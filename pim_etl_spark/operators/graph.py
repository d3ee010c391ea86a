"""Graph operators: iterative algorithms expressed as DataFrame loops.

The reference has no graph surface; these extend the engine the way a
training-data pipeline needs it. ``min_label_components`` is the one
connected-components kernel: entity resolution, duplicate clustering
and DBSCAN all cluster through it. The trade-graph entries run on the
nation-level graph derived from the warehouse — the heavy,
100-TB-relevant piece is the EDGE BUILD (``_trade_edges``: a 4-way
star join aggregated down to nations²=625 weighted edges); each loop
then iterates over a graph that is small by construction. For graphs
that stay large after aggregation, the kernel's co-partitioned
adjacency with one ``localCheckpoint`` per round is the template.

Determinism: edge weights are integral counts, transition
probabilities are exact IEEE divisions, and each iteration's sums run
over ≤25 incoming terms — cross-engine summation-order drift stays at
~1e-15 while ranks sit at ~0.04, so the 6-dp rounding in the output
can never land on an engine-divergent boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pim_etl_spark.catalog import query
from pim_etl_spark.sources import load_table
from pim_etl_spark.tuning import loop_partitions, sorted_output

# The nation dimension is fixed-cardinality (25) at every scale factor;
# both engines hardcode it so neither needs a driver-side count action.
N_NATIONS = 25
DAMPING = 0.85
N_ITER = 5


def min_label_components(pairs: DataFrame, nodes: DataFrame, rounds: int) -> DataFrame:
    """Connected components by min-label propagation: every node starts
    labeled with its own id and, each round, adopts the smallest label
    among its neighbors and itself. Returns ``(id, lbl)`` for every id
    of ``nodes`` after at most ``rounds`` rounds — the label is the
    minimum id within ``rounds`` hops, which is the component minimum
    once the round count reaches the component diameter.

    ``pairs`` holds undirected edges in its first two columns and
    ``nodes`` the ids in its first column (endpoints of ``pairs`` are
    expected among them). The symmetric adjacency plus one self-loop per
    node is built once, hash-partitioned on the join key at
    ``loop_partitions`` width and cached, so every round's ids-only join
    reuses that partitioning. Each round is checkpointed eagerly, which
    truncates the lineage, and the loop stops at a fixpoint: a round
    that changes no label leaves every later round unchanged, so
    stopping there returns the same labels as running all ``rounds``.
    """
    a, b = (F.col(c) for c in pairs.columns[:2])
    node = F.col(nodes.columns[0])
    n_loop = loop_partitions(nodes)
    adj = (
        pairs.select(
            F.inline(
                F.array(
                    F.struct(a.alias("u"), b.alias("v")), F.struct(b.alias("u"), a.alias("v"))
                )
            )
        )
        .unionByName(nodes.select(node.alias("u"), node.alias("v")))
        .repartition(n_loop, "v")
        .cache()
    )
    lbl = adj.filter(F.col("u") == F.col("v")).select(
        F.col("u").alias("id"), F.col("u").alias("lbl")
    )
    for r in range(rounds):
        step = (
            adj.join(lbl.toDF("v", "lbl").repartition(n_loop, "v"), "v")
            .groupBy(F.col("u").alias("id"))
            .agg(
                F.min("lbl").alias("lbl"),
                # the self-loop carries the node's own previous label
                F.min(F.when(F.col("u") == F.col("v"), F.col("lbl"))).alias("prev"),
            )
            .localCheckpoint(eager=True)
        )
        lbl = step.select("id", "lbl")
        if r + 1 < rounds and step.filter(F.col("lbl") < F.col("prev")).isEmpty():
            break
    adj.unpersist()
    return lbl


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed nation trade graph every trade entry starts from:
    ``(src int, dst int, w long)`` with src the supplier's nation, dst
    the customer's and w the lineitem count, self-loops kept. This star
    join is the only piece that touches fact data — dimensions
    broadcast, lineitem shuffles once for the orders join, and the
    output collapses to at most nations² = 625 rows."""
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").cast("int").alias("src"),
            F.col("c_nationkey").cast("int").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _top_out_edges(edges: DataFrame, k: int) -> DataFrame:
    """Sparsify to each node's ``k`` heaviest out-edges, ties to the
    smaller ``dst`` (a total order, so both engines keep the same
    edges)."""
    w_top = Window.partitionBy("src").orderBy(F.col("w").desc(), F.col("dst").asc())
    return edges.withColumn("rk", F.row_number().over(w_top)).filter(F.col("rk") <= k).drop("rk")


def _pr_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (aggregates
    are not allowed in a standard recursive CTE term, so the 5 rounds
    are written out; DuckDB folds the repetition at plan time)."""
    iters = []
    for i in range(1, N_ITER + 1):
        iters.append(
            f"""pr{i} AS (
      SELECT n.node,
             0.15 / {N_NATIONS} + {DAMPING} * coalesce(sum(p.rank * e.p), 0) AS rank
      FROM nodes n
      LEFT JOIN norm e ON e.dst = n.node
      LEFT JOIN pr{i - 1} p ON p.node = e.src
      GROUP BY 1
    )"""
        )
    chain = ",\n    ".join(iters)
    return f"""
    -- weighted PageRank over the supplier-nation -> customer-nation
    -- trade graph; 5 unrolled power-iteration rounds
    WITH edges AS (
      SELECT n1.n_nationkey AS src, n2.n_nationkey AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      GROUP BY 1, 2
    ), norm AS (
      SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM edges
    ), nodes AS (
      SELECT n_nationkey AS node FROM nation
    ), pr0 AS (
      SELECT node, 1.0 / {N_NATIONS} AS rank FROM nodes
    ), {chain}
    SELECT n_name AS nation, round(pr{N_ITER}.rank, 6) AS rank
    FROM pr{N_ITER} JOIN nation ON node = n_nationkey
    ORDER BY rank DESC, nation
    """


@query("pagerank_trade_graph", oracle=_pr_oracle())
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank as a DataFrame power-iteration loop: rank
    flows along trade edges (supplier nation -> customer nation,
    weight = lineitem count) with damping 0.85, 5 fixed rounds,
    teleport to uniform. Dangling mass is NOT redistributed (both
    engines apply the same update rule, so the simplification is
    parity-exact and documented).

    Scale design: the star join that builds edges is the only piece
    that touches fact data — dimensions broadcast, lineitem shuffles
    once for the orders join, and the output collapses to nations² =
    625 rows. The normalized edge set is cached so the unrolled loop's
    five logical references resolve to one computation, and each
    round's joins are broadcast-hash (both sides are KB-sized). For
    graphs that remain large after aggregation, per-round
    localCheckpoint (``min_label_components``) replaces the cache.
    """
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = _trade_edges(spark, sf_dir)
    norm = edges.withColumn(
        "p", F.col("w") / F.sum("w").over(Window.partitionBy("src"))
    ).select("src", "dst", "p").cache()
    nodes = nat.select(F.col("n_nationkey").alias("node"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / N_NATIONS))
    for _ in range(N_ITER):
        contribs = (
            F.broadcast(norm)
            .join(F.broadcast(ranks), F.col("src") == F.col("node"))
            .select("dst", (F.col("rank") * F.col("p")).alias("c"))
        )
        summed = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(F.broadcast(summed), nodes.node == summed.dst, "left")
            .select(
                "node",
                (F.lit(0.15 / N_NATIONS) + DAMPING * F.coalesce(F.col("s"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
    return (
        ranks.join(F.broadcast(nat), F.col("node") == nat.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.round("rank", 6).alias("rank"))
        .transform(sorted_output, F.col("rank").desc(), "nation")
    )


BFS_MAX_HOPS = 4


@query(
    "bfs_trade_hops",
    oracle=f"""
    -- BFS shortest-hop distances over the sparsified trade graph
    -- (each nation keeps its top-2 heaviest outgoing trade edges —
    -- a RELATIVE sparsifier, so the graph shape is scale-invariant),
    -- from nation 0, depth-capped at {BFS_MAX_HOPS}. Recursive-CTE
    -- min-distance twin of the frontier-expansion loop.
    WITH RECURSIVE e0 AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ), e AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst ASC) AS rk
        FROM e0
      ) WHERE rk <= 2
    ), reach(node, d) AS (
      SELECT CAST(0 AS INT), 0
      UNION
      SELECT CAST(e.dst AS INT), r.d + 1
      FROM reach r JOIN e ON e.src = r.node
      WHERE r.d < {BFS_MAX_HOPS}
    )
    SELECT r.node, n.n_name, CAST(min(r.d) AS BIGINT) AS min_hops
    FROM reach r JOIN nation n ON n.n_nationkey = r.node
    GROUP BY r.node, n.n_name
    ORDER BY min_hops, node
    """,
)
def bfs_trade_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-hop distances (frontier expansion) from nation 0
    over the top-2-out-edges trade graph — the graph-traversal
    primitive alongside PageRank, connected components
    (dedup clustering), and the recursive-CTE ancestor rollup.

    Scale shape: the ONLY fact-data work is the edge aggregate (one
    lineitem pass, dimensions broadcast); the loop then runs on the
    node-count-sized frontier with broadcast joins, expanding at most
    ``BFS_MAX_HOPS`` rounds — at a billion-node graph the same loop
    keys frontier joins on the edge table's partitioning and
    localCheckpoints per round (``min_label_components``' pattern).
    """
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        _top_out_edges(_trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst")), 2)
        .select("src", "dst")
        .cache()
    )
    # depth-capped BFS unrolls as a path union: layer k+1 = layer k ⋈
    # edges, all reached (node, d) pairs union once, ONE final min-agg
    # resolves shortest hops. No per-round anti-join/dedup shuffles —
    # with out-degree capped at 2 by the sparsifier, path count is
    # bounded (≤ 2^k per node), so deferring dedup to the end is
    # cheaper than four rounds of shuffle. An unbounded-degree graph
    # flips that trade: dedup per round (min_label_components' loop).
    layers = [spark.createDataFrame([(0, 0)], "node int, d int")]
    for _ in range(BFS_MAX_HOPS):
        layers.append(
            F.broadcast(layers[-1])
            .join(edges, F.col("src") == F.col("node"))
            .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )
    dist = layers[0]
    for layer in layers[1:]:
        dist = dist.unionByName(layer)
    return (
        dist.groupBy("node")
        .agg(F.min("d").cast("bigint").alias("min_hops"))
        .join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("node"), "n_name")),
            "node",
        )
        .select("node", "n_name", "min_hops")
        .transform(sorted_output, "min_hops", "node")
    )


TRI_TOP_EDGES = 3


@query(
    "triangle_count_trade",
    oracle=f"""
    -- per-nation triangle participation over the UNDIRECTED
    -- sparsified trade graph (top-{TRI_TOP_EDGES} heaviest out-edges per
    -- nation, then symmetrized); canonical a<b<c join enumeration.
    -- und and tri are MATERIALIZED: tri references und three times
    -- and member references tri three times, so an inlining planner
    -- otherwise replays the 4-table fact join ~9× (measured 103 s at
    -- sf0.1 vs ~1 s materialized — the kcore_decomposition class,
    -- round 12).
    WITH e0 AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ), sparse AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst ASC) AS rk
        FROM e0
      ) WHERE rk <= {TRI_TOP_EDGES}
    ), und AS MATERIALIZED (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b
      FROM sparse GROUP BY 1, 2
    ), tri AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ), member AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT CAST(n.n_nationkey AS INT) AS node, n.n_name,
           CAST(coalesce(m.c, 0) AS BIGINT) AS n_triangles
    FROM nation n
    LEFT JOIN (SELECT node, count(*) AS c FROM member GROUP BY 1) m
      ON m.node = n.n_nationkey
    ORDER BY node
    """,
)
def triangle_count_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts — the clustering-structure primitive
    completing the graph family (PageRank = centrality, BFS =
    distance, connected components = dedup clustering, triangles =
    cohesion). Canonical enumeration: every undirected edge is stored
    once as (a < b) and triangles join as a<b<c, so each triangle is
    produced exactly once.

    Scale shape: as with PageRank/BFS, the only fact-data pass is the
    edge aggregate (dimensions broadcast, one lineitem shuffle); the
    triangle join runs on the sparsified nation graph. On a graph that
    stays large, the same canonical join is the standard distributed
    algorithm — ordering vertices by DEGREE (not id) bounds the join
    fan-out by arboricity (m^1.5 worst case), and the two joins key on
    edge endpoints, so it partitions cleanly.
    """
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    und = (
        _top_out_edges(
            _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst")), TRI_TOP_EDGES
        )
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .cache()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(F.broadcast(e2), F.col("e2.a") == F.col("e1.b"))
        .join(
            F.broadcast(e3),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    member = tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
    counts = member.groupBy("node").agg(F.count(F.lit(1)).alias("c"))
    return (
        F.broadcast(nat)
        .join(counts, nat.n_nationkey == counts.node, "left")
        .select(
            F.col("n_nationkey").cast("int").alias("node"),
            "n_name",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_triangles"),
        )
        .transform(sorted_output, "node")
    )


SSSP_MAX_HOPS = 4
SSSP_TOP_EDGES = 3
SSSP_COST_SCALE = 1_000_000_000


@query(
    "sssp_trade_cost",
    oracle=f"""
    -- single-source cheapest trade route from nation 0 over the
    -- top-{SSSP_TOP_EDGES}-out-edge graph, edge cost = {SSSP_COST_SCALE} // weight
    -- (busier lanes are cheaper), depth-capped at {SSSP_MAX_HOPS} hops.
    -- Recursive path enumeration + one final min — the weighted
    -- sibling of bfs_trade_hops' min-distance twin.
    WITH RECURSIVE e0 AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ), e AS (
      SELECT src, dst, {SSSP_COST_SCALE} // w AS cost FROM (
        SELECT src, dst, w,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst ASC) AS rk
        FROM e0
      ) WHERE rk <= {SSSP_TOP_EDGES}
    ), reach(node, d, h) AS (
      SELECT CAST(0 AS INT), CAST(0 AS BIGINT), 0
      UNION
      SELECT CAST(e.dst AS INT), r.d + e.cost, r.h + 1
      FROM reach r JOIN e ON e.src = r.node
      WHERE r.h < {SSSP_MAX_HOPS}
    )
    SELECT r.node, n.n_name, CAST(min(r.d) AS BIGINT) AS min_cost
    FROM reach r JOIN nation n ON n.n_nationkey = r.node
    GROUP BY r.node, n.n_name
    ORDER BY min_cost, node
    """,
)
def sssp_trade_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest path (depth-capped Bellman-Ford
    unrolled as a path union) — the weighted sibling of
    ``bfs_trade_hops``: integer edge costs ({SSSP_COST_SCALE} // trade
    count, so both engines floor-divide identically), hop cap 4,
    ONE final min-aggregate resolves the cheapest route per node.

    Scale shape: identical to BFS — the only fact-data pass is the
    edge aggregate; layers expand by broadcast joins against the
    sparsified edge set (out-degree capped at {SSSP_TOP_EDGES}, so
    path count per node is bounded by {SSSP_TOP_EDGES}^{SSSP_MAX_HOPS});
    deferring the min to the end avoids per-round min-agg shuffles.
    An unbounded-degree or unbounded-depth graph flips to per-round
    relax + min + localCheckpoint (``min_label_components``' loop).
    """
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        _top_out_edges(
            _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst")), SSSP_TOP_EDGES
        )
        .select("src", "dst", F.floor(F.lit(SSSP_COST_SCALE) / F.col("w")).alias("cost"))
        .cache()
    )
    layers = [spark.createDataFrame([(0, 0)], "node int, d long")]
    for _ in range(SSSP_MAX_HOPS):
        layers.append(
            F.broadcast(layers[-1])
            .join(edges, F.col("src") == F.col("node"))
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("cost")).alias("d"))
        )
    dist = layers[0]
    for layer in layers[1:]:
        dist = dist.unionByName(layer)
    return (
        dist.groupBy("node")
        .agg(F.min("d").cast("bigint").alias("min_cost"))
        .join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("node"), "n_name")),
            "node",
        )
        .select("node", "n_name", "min_cost")
        .transform(sorted_output, "min_cost", "node")
    )


N_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """Unrolled weighted label propagation: per round each node adopts
    the neighbor label with the largest incident weight (integer trade
    counts — exact), ties to the smallest label (a total order, so the
    fixed-round state is deterministic cross-engine)."""
    rounds = []
    for r in range(1, N_LPA_ROUNDS + 1):
        rounds.append(f"""s{r} AS (
      SELECT e.dst AS node, p.label, CAST(sum(e.w) AS BIGINT) AS ws
      FROM sym e JOIN l{r - 1} p ON p.node = e.src
      GROUP BY 1, 2
    ), b{r} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node ORDER BY ws DESC, label ASC) AS rn
        FROM s{r}
      ) WHERE rn = 1
    ), l{r} AS (
      SELECT p.node, coalesce(b.label, p.label) AS label
      FROM l{r - 1} p LEFT JOIN b{r} b ON b.node = p.node
    )""")
    chain = ",\n    ".join(rounds)
    return f"""
    -- {N_LPA_ROUNDS} unrolled rounds of weighted label propagation over
    -- the symmetrized nation trade graph (self-loops dropped)
    WITH edges AS (
      SELECT n1.n_nationkey AS src, n2.n_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      GROUP BY 1, 2
    ), sym AS (
      SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
        SELECT src, dst, w FROM edges WHERE src <> dst
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM edges WHERE src <> dst
      ) GROUP BY 1, 2
    ), l0 AS (
      SELECT n_nationkey AS node, n_nationkey AS label FROM nation
    ), {chain}
    SELECT n.n_name AS nation, CAST(l.label AS BIGINT) AS community
    FROM l{N_LPA_ROUNDS} l JOIN nation n ON l.node = n.n_nationkey
    ORDER BY nation
    """


@query("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by weighted label propagation — the
    modularity-flavored sibling of the min-label connected-components
    loop (`dedup_cluster_resolution`): per round each nation adopts
    the label carrying the most incident trade weight (exact integer
    counts; ties to the smallest label, a total order). Fixed
    {rounds} rounds keep the state closed-form for the oracle, the
    same design as the 5-round PageRank entry.

    Scale shape: the edge build is the heavy piece (5-way star join
    aggregated to nations² rows); each round is one hash-join + one
    partial agg + one per-node argmax window on the tiny graph. On a
    graph that stays large, the identical dataflow runs per round with
    localCheckpoint (``min_label_components``' template)."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    sym = (
        edges.select("src", "dst", "w")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    labels = nation.select(F.col("n_nationkey").alias("node"), F.col("n_nationkey").alias("label"))
    w_arg = Window.partitionBy("node").orderBy(F.col("ws").desc(), F.col("label").asc())
    for _ in range(N_LPA_ROUNDS):
        scores = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.sum("w").cast("long").alias("ws"))
        )
        best = (
            scores.withColumn("rn", F.row_number().over(w_arg))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select("node", F.coalesce("new_label", "label").alias("label"))
        )
    return (
        labels.join(F.broadcast(nation), labels.node == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("label").cast("long").alias("community"))
        .transform(sorted_output, "nation")
    )



# Iterative doubling covers ancestor depth 2^CLOSURE_DOUBLINGS = 16.
# The hierarchy is parent(k) = k DIV 4 (branching factor 4, root 0),
# so max depth = ceil(log4(max_key)) and 16 covers any key domain up
# to 4^16 ≈ 4.3e9 parts. The oracle computes the UNBOUNDED closure
# via a recursive CTE, so part_closure() asserts coverage against the
# table's actual max key (a min/max-stat-only aggregate) rather than
# trusting this comment to outlive a hierarchy change (round-6 ADVICE).
CLOSURE_DOUBLINGS = 4

# one-shot flag: log the footer-probe fallback once per process, not
# once per part_closure call
_FOOTER_FALLBACK_LOGGED = False


def part_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(des, anc, depth) transitive closure of the synthesized part
    hierarchy, built by iterative doubling (see
    hierarchy_closure_table). Cached — shared by the closure entry
    and the BOM rollup."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    # depth(k) under parent(k) = k DIV 4 is ceil(log4(k)); doubling
    # d rounds reaches depth 2^d — refuse to silently truncate deep
    # ancestor pairs if the key domain ever outgrows the bound. The
    # max key comes from the parquet FOOTER statistics (O(row groups)
    # driver-side metadata, no Spark job — Spark's own aggregate
    # pushdown is off by default, so part.agg(max) would be a full
    # column scan per call; r7 self-review), with the scan as fallback.
    max_key = 0
    try:
        import os

        import pyarrow.parquet as pq

        pf = pq.ParquetFile(os.path.join(sf_dir, "part.parquet"))
        idx = pf.schema_arrow.get_field_index("p_partkey")
        if idx < 0:  # get_field_index returns -1, never raises —
            # indexing column(-1) would silently read the LAST
            # column's stats (round-7 ADVICE)
            raise KeyError("p_partkey not in parquet schema")
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            if st is None or st.max is None:
                raise ValueError("missing footer stats")
            max_key = max(max_key, int(st.max))
    except (ImportError, OSError, KeyError, ValueError) as exc:
        # narrow fallback set (round-7 ADVICE — a broad except hid
        # EVERY footer-probe failure as a silent per-call full scan):
        # pyarrow absent, part.parquet a directory/multi-file layout,
        # schema or stats missing. Log once per process so repeated
        # silent fallbacks are visible.
        global _FOOTER_FALLBACK_LOGGED
        if not _FOOTER_FALLBACK_LOGGED:
            _FOOTER_FALLBACK_LOGGED = True
            import sys

            print(
                f"part_closure: parquet footer probe unavailable ({exc!r}); "
                "falling back to a Spark max() scan per call",
                file=sys.stderr,
            )
        max_key = part.agg(F.max("p_partkey")).first()[0] or 0
    max_depth = 0
    k = max_key
    while k > 0:
        k //= 4
        max_depth += 1
    if max_depth > (1 << CLOSURE_DOUBLINGS):
        raise ValueError(
            f"part hierarchy depth {max_depth} exceeds closure bound "
            f"{1 << CLOSURE_DOUBLINGS}; raise CLOSURE_DOUBLINGS to "
            f"{max(CLOSURE_DOUBLINGS + 1, (max_depth - 1).bit_length())}"
        )
    edges = part.filter(F.col("p_partkey") > 0).select(
        F.col("p_partkey").alias("des"),
        F.expr("p_partkey DIV 4").alias("anc"),
        F.lit(1).cast("int").alias("depth"),
    )
    # conf-derived loop width (floor = the bench-measured 8): the
    # closure frame is data-sized, so a cluster session must widen
    # these per-doubling shuffles instead of serializing on 8 tasks
    n_loop = loop_partitions(part)
    closure = edges.repartition(n_loop, "anc").cache()
    for _ in range(CLOSURE_DOUBLINGS):
        a = closure.select(
            F.col("des"), F.col("anc").alias("mid"), F.col("depth").alias("d1")
        )
        b = closure.select(
            F.col("des").alias("mid"), F.col("anc"), F.col("depth").alias("d2")
        )
        new = (
            a.repartition(n_loop, "mid")
            .join(b.repartition(n_loop, "mid"), "mid")
            .filter(F.col("mid") > 0)
            .select("des", "anc", (F.col("d1") + F.col("d2")).alias("depth"))
        )
        closure = (
            closure.unionByName(new)
            .repartition(n_loop, "des", "anc")
            .dropDuplicates(["des", "anc"])
            .cache()
        )
    return closure


@query(
    "hierarchy_closure_table",
    oracle="""
    -- transitive closure of the synthesized part hierarchy
    -- (parent(k) = k // 4, root 0): the oracle walks it with a
    -- recursive CTE; the engine must reach the SAME closure through
    -- logarithmic iterative doubling. Per-depth rollup with an
    -- XOR-fold checksum pins every (descendant, ancestor) pair.
    WITH RECURSIVE edges AS (
      SELECT p_partkey AS child, p_partkey // 4 AS parent
      FROM part WHERE p_partkey > 0
    ),
    closure AS (
      SELECT child AS des, parent AS anc, 1 AS depth FROM edges
      UNION ALL
      SELECT c.des, e.parent, c.depth + 1
      FROM closure c JOIN edges e ON c.anc = e.child
      WHERE c.anc > 0
    )
    SELECT depth,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(bit_xor(CAST(('0x' || substr(md5(CAST(des AS VARCHAR) || '|' || CAST(anc AS VARCHAR)), 1, 15)) AS BIGINT)) AS BIGINT) AS pair_checksum
    FROM closure GROUP BY depth ORDER BY depth
    """,
)
def hierarchy_closure_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure (the recursive-CTE verb: org charts, BOM
    explosions, category trees) computed the distributed way —
    ITERATIVE DOUBLING: round r composes paths of length <= 2^(r-1)
    with themselves, so {CLOSURE_DOUBLINGS} rounds cover depth 16
    where naive per-level iteration would need 16 joins. Depth-8
    hierarchy here (parent(k) = k DIV 4); each round is one ids-only
    self-join + dropDuplicates on a pinned co-partitioning. The
    recursive CTE the oracle uses is exactly what Spark lacks — this
    entry is the workaround pattern AND its proof of equivalence.
    Output pins every pair via per-depth XOR-fold checksums
    (partitioning/order independent)."""
    closure = part_closure(spark, sf_dir)
    h60 = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("des").cast("string"), F.col("anc").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        closure.select("depth", h60.alias("h60"))
        .groupBy("depth")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.bit_xor("h60").alias("pair_checksum"),
        )
        .transform(sorted_output, "depth")
    )


@query(
    "bom_cost_rollup",
    oracle="""
    -- BOM explosion costing over the same hierarchy: every ancestor
    -- aggregates its ENTIRE descendant subtree's retail value (exact
    -- cents) + subtree size + max depth — the closure as a join
    -- input, not just a table
    WITH RECURSIVE edges AS (
      SELECT p_partkey AS child, p_partkey // 4 AS parent
      FROM part WHERE p_partkey > 0
    ),
    closure AS (
      SELECT child AS des, parent AS anc, 1 AS depth FROM edges
      UNION ALL
      SELECT c.des, e.parent, c.depth + 1
      FROM closure c JOIN edges e ON c.anc = e.child
      WHERE c.anc > 0
    ),
    rolled AS (
      SELECT c.anc,
             CAST(count(*) AS BIGINT) AS n_descendants,
             CAST(max(c.depth) AS BIGINT) AS subtree_depth,
             CAST(sum(CAST(round(p.p_retailprice * 100) AS BIGINT)) AS BIGINT) AS subtree_cents
      FROM closure c JOIN part p ON c.des = p.p_partkey
      GROUP BY 1
    )
    SELECT anc, n_descendants, subtree_depth, subtree_cents
    FROM rolled
    WHERE n_descendants >= 16
    ORDER BY anc
    """,
)
def bom_cost_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion costing: each ancestor rolls up its
    FULL descendant subtree (count, max depth, exact retail cents) by
    joining the iterative-doubling closure against the part facts —
    the query a recursive CTE would express, run as one equi-join plus
    one aggregate once the closure exists. This is why a materialized
    closure table is the standard warehouse answer to hierarchies: the
    recursion is paid once (log-depth doubling rounds), every rollup
    after is a plain join. Filtered to subtrees of 16+ descendants so
    the gated output stays summary-sized at every SF."""
    closure = part_closure(spark, sf_dir)
    cents = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("des"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    return (
        closure.join(cents, "des")
        .groupBy("anc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_descendants"),
            F.max("depth").cast("long").alias("subtree_depth"),
            F.sum("cents").cast("long").alias("subtree_cents"),
        )
        .filter(F.col("n_descendants") >= 16)
        .transform(sorted_output, "anc")
    )


KCORE_K = 8
KCORE_ROUNDS = 4


@query(
    "kcore_decomposition",
    oracle=f"""
    -- k-core peeling on the undirected trade graph (k = {KCORE_K}):
    -- each round removes nodes whose CURRENT degree < k; both engines
    -- run the same {KCORE_ROUNDS} fixed rounds, so the surviving set
    -- agrees even if the fixpoint needs fewer rounds. Output: the
    -- surviving core with final in-core degrees.
    -- raw and sym are MATERIALIZED: each peel round references sym
    -- plus the previous survivor set TWICE (s.u and s.v sides), so an
    -- inlining planner otherwise expands the chain exponentially —
    -- 2^rounds copies of the 4-table fact join (measured: >5 min and
    -- an 80 GB spill at sf0.1 vs 1.9 s materialized, round 12).
    WITH raw AS MATERIALIZED (
      SELECT least(s_nationkey, c_nationkey) AS u,
             greatest(s_nationkey, c_nationkey) AS v,
             count(*) AS c
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE s_nationkey <> c_nationkey
      GROUP BY 1, 2
    ),
    wund AS (SELECT u, v, sum(c) AS w FROM raw GROUP BY 1, 2),
    tot AS (SELECT sum(w) AS tw, count(*) AS ne FROM wund),
    und AS (SELECT u, v FROM wund, tot WHERE w * ne > tw),
    sym AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
    n0 AS (SELECT u AS node FROM sym GROUP BY 1 HAVING count(*) >= {KCORE_K}),
    s1 AS (SELECT s.u, s.v FROM sym s JOIN n0 a ON s.u = a.node JOIN n0 b ON s.v = b.node),
    n1 AS (SELECT u AS node FROM s1 GROUP BY 1 HAVING count(*) >= {KCORE_K}),
    s2 AS (SELECT s.u, s.v FROM sym s JOIN n1 a ON s.u = a.node JOIN n1 b ON s.v = b.node),
    n2 AS (SELECT u AS node FROM s2 GROUP BY 1 HAVING count(*) >= {KCORE_K}),
    s3 AS (SELECT s.u, s.v FROM sym s JOIN n2 a ON s.u = a.node JOIN n2 b ON s.v = b.node),
    n3 AS (SELECT u AS node FROM s3 GROUP BY 1 HAVING count(*) >= {KCORE_K}),
    s4 AS (SELECT s.u, s.v FROM sym s JOIN n3 a ON s.u = a.node JOIN n3 b ON s.v = b.node)
    SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS core_degree
    FROM s4 JOIN nation ON u = n_nationkey
    GROUP BY 1 HAVING count(*) >= {KCORE_K}
    ORDER BY nation
    """,
)
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition ({KCORE_K}-core) by iterative peeling —
    the cohesion filter that finds the densely-interconnected kernel
    of a graph (community cores, spam-farm detection, robustness
    analysis), run on the above-mean-weight trade graph so degrees
    actually vary: each round drops nodes whose degree among SURVIVORS
    falls below k, shrinking monotonically to the core. {KCORE_ROUNDS}
    fixed rounds (both engines run the identical recurrence; the
    monotone set agrees pre-fixpoint). Each round is one semi-join of
    the edge list against the survivor set + one degree aggregate —
    ids-only shuffles, the CC/LPA cost shape. The heavy stage is again
    the one-time edge build from facts."""
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    und = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .groupBy(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .agg(F.sum("w").alias("w"))
    )
    tot = und.agg(F.sum("w").alias("tw"), F.count(F.lit(1)).alias("ne"))
    und = (
        und.crossJoin(F.broadcast(tot))
        .filter(F.col("w") * F.col("ne") > F.col("tw"))
        .select("u", "v")
    )
    sym = (
        und.select("u", "v")
        .unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .cache()
    )
    edges = sym
    for _ in range(KCORE_ROUNDS):
        survivors = (
            edges.groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("node")
        )
        # localCheckpoint, not cache: a lazy cache re-runs the whole
        # peel prefix (incl. the fact-table edge build) every round
        # the broadcast pulls it (NOTES round-6 lineage lesson)
        edges = (
            edges.join(F.broadcast(survivors.withColumnRenamed("node", "u")), "u", "left_semi")
            .join(F.broadcast(survivors.withColumnRenamed("node", "v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .filter(F.col("core_degree") >= KCORE_K)
        .join(F.broadcast(nat), F.col("u") == nat.n_nationkey)
        .select(F.col("n_name").alias("nation"), "core_degree")
        .transform(sorted_output, "nation")
    )
