"""Graph operators: fixed-iteration PageRank (engine addition), the
canonical importance measure. The graph is the customer↔supplier
trade network derived from orders⋈lineitem — bipartite, symmetrized
so no node dangles (a directed bipartite graph would leak all rank
mass at the supplier side; symmetric edges are the standard fix and
what an undirected trade network means anyway).

Scale shape (the distributed-PageRank textbook form):

- The weighted edge list (src, dst, 1/outdeg) is built ONCE — two
  shuffles (edge distinct + out-degree) — then eagerly checkpointed
  so the per-iteration plan stays flat and the orders⋈lineitem
  subtree never re-evaluates.
- Each iteration is one join (ranks are re-keyed by the same src hash
  partitioning every pass, so the exchange is only on the rank side's
  k rows) + one groupBy(dst) with map-side combine. Rank state is
  O(nodes), never O(edges).
- Iteration count is FIXED (no data-dependent convergence probe), so
  runs are reproducible and the whole thing unrolls into a DuckDB
  oracle — the same reason ``pipeline.kmeans_lloyd`` fixes its loop.

Uses the unnormalized form r ← (1−d) + d·Σ r/outdeg (mean rank = 1),
keeping values O(1) so 6-decimal rounding is meaningful at any graph
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.sources.catalog import load_table

#: Damping factor (the standard 0.85) and fixed iteration count.
DAMPING = 0.85
PR_ITERS = 3
#: Checkpoint the rank state every N iterations (never on the last —
#: the caller's action materializes it). Every-iteration checkpointing
#: pays a materialization round-trip per pass; measured at sf0.1 the
#: every-2nd cadence is ~10-15% faster for the 3-iter face while still
#: keeping lineage depth bounded (<= cadence joins deep) for arbitrary
#: n_iters.
PR_CHECKPOINT_EVERY = 2
#: Supplier node ids are offset into their own id space so the
#: bipartite sides never collide.
SUPP_OFFSET = 1_000_000


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct symmetric (src, dst) edges: customer ↔ supplier iff
    some order of the customer contains a lineitem of the supplier."""
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    fwd = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
        )
        .distinct()
        # checkpoint the HALF-sized directed pair set, not the
        # symmetric union: pagerank() evaluates its edge input twice
        # (deg's checkpoint and w's), so un-materialized the
        # orders⋈lineitem join + distinct ran twice end-to-end
        # (stage-profiled at sf 0.1: two full build chains). The union
        # below is a row-local flip over the checkpointed blocks.
        .localCheckpoint(eager=True)
    )
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(
    edges: DataFrame,
    n_iters: int = PR_ITERS,
    damping: float = DAMPING,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over a symmetric (src, dst) edge list.
    Returns (node, rank). See module docstring for the scale shape.

    With ``broadcast_ranks`` (the O(nodes)-fits-in-an-executor regime —
    rank state is node id + double, so ~16 bytes/node; fine into the
    hundreds of millions of nodes) the weighted edge list is built
    hash-partitioned on ``dst`` and NEVER moves again: each iteration
    broadcast-joins the small rank state onto the edges (preserving the
    edge partitioning) and the ``groupBy(dst)`` reuses it — zero
    edge-sized exchanges per iteration instead of one. For billions of
    nodes set ``broadcast_ranks=False``: the join falls back to
    shuffle-on-src (the co-partitioned GraphX regime) and the groupBy
    re-exchanges on dst."""
    # The degree table is node-sized — the SAME O(nodes) regime the
    # rank broadcast already assumes — so in that regime it broadcasts
    # onto the edge scan instead of shuffle-joining it, and the
    # initial rank state comes straight from it (symmetric edges: the
    # src set IS the node set) instead of an edge-scale distinct().
    # Net: two edge-sized exchanges removed from the setup phase.
    # deg is node-sized in EITHER regime, and the initial rank state
    # derives from it below — checkpoint unconditionally so iteration
    # 1 never re-evaluates the edge-building subtree through the rank
    # lineage.
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    deg_side = F.broadcast(deg) if broadcast_ranks else deg
    w = edges.join(deg_side, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    )
    if broadcast_ranks:
        w = w.repartition("dst")
    w = w.localCheckpoint(eager=True)
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("rank"))
    for i in range(n_iters):
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = (
            w.join(rank_side, w["src"] == rank_side["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("mass"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(1.0 - damping) + damping * F.col("mass")).alias("rank"),
        )
        if (i + 1) % PR_CHECKPOINT_EVERY == 0 and i != n_iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face: 3-iteration PageRank over the customer↔supplier
    trade network, most-central nodes labeled by side."""
    pr = pagerank(_trade_edges(spark, sf_dir))
    return pr.select(
        "node",
        F.when(F.col("node") >= SUPP_OFFSET, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("side"),
        F.round("rank", 6).alias("rank"),
    )


def _oracle_pr_iter(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT w.dst AS node,
         {1.0 - DAMPING} + {DAMPING} * SUM(p.rank * w.w) AS rank
  FROM w JOIN {prev} p ON w.src = p.node
  GROUP BY w.dst
)"""


ORACLE_TRADE_PAGERANK = f"""
WITH fwd AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + {SUPP_OFFSET} AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT src, dst FROM fwd
  UNION ALL
  SELECT dst AS src, src AS dst FROM fwd
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), w AS (
  SELECT e.src, e.dst, 1.0 / d.deg AS w
  FROM edges e JOIN deg d ON e.src = d.src
), r0 AS (
  SELECT DISTINCT src AS node, 1.0 AS rank FROM w
), {_oracle_pr_iter("r0", "r1")}, {_oracle_pr_iter("r1", "r2")}, {_oracle_pr_iter("r2", "r3")}
SELECT node,
       CASE WHEN node >= {SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END AS side,
       ROUND(rank, 6) AS rank
FROM r3
"""
