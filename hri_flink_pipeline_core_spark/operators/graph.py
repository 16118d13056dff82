"""Iterative graph operators (north star: corpus-level link analysis —
domain authority weighting for training-data curation).

PageRank here follows the same cross-engine float discipline as the rest
of the oracle surface (BASELINE.md): every division/multiplication is a
pointwise IEEE-double op (deterministic and identical in Spark and
DuckDB), every aggregation is an order-independent integer sum of
explicitly quantized contributions — never a raw double sum, which is
partition-order dependent.

No reference counterpart (the reference has no graph ops); declared in
SURVEY §2.16.1 as an engine extension alongside connected components
(operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import checkpoint_small


def pagerank(
    edges: DataFrame,
    iterations: int = 2,
    damping: float = 0.85,
    base: float = 0.15,
    quantum: float = 1e12,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge set ``(src, dst)``
    -> ``(node, pagerank)``. Unnormalized start (pr0 = 1.0 per node);
    dangling mass is NOT redistributed (documented simplification — it
    rescales, not reorders, ranks on most graphs). An edge with a NULL
    endpoint is malformed and contributes nothing: it neither creates a
    NULL node nor inflates a real node's out-degree.

    Adjacency-list shape: the whole edge set crosses the wire exactly
    once. ``groupBy(src).collect_set(dst)`` fuses the (src,dst) dedupe
    and the out-degree into ONE edge-scale exchange whose output is
    node-scale rows (out-degree = array size; collect_set's
    nondeterministic array ORDER is immaterial — every consumer either
    counts the array or explodes it into an order-independent BIGINT
    sum). The checkpointed adjacency table is the only loop-invariant
    leaf; each iteration is a node-scale rank join + a codegen explode +
    one map-side-combining groupBy(dst) whose shuffle volume is
    node-scale. Rank tables are checkpointed on a cadence (below): each
    re-enters the next iteration's plan twice (contrib join + node
    join), and without a flat leaf the lineage re-evaluates
    2^iterations times (see BASELINE.md persist rule).

    Limit: a source's out-list is one array row (~8 B/edge), so one
    node's out-degree must stay below ~10^7 edges (a row of ~80 MB).

    Determinism: the contribution pr/outdeg is quantized to an integer
    ``floor(x * quantum + 0.5)`` BEFORE summation, so the aggregate is
    an exact BIGINT sum in any partition order and any engine; the
    damped update then runs pointwise in double. The contribution is
    computed per SOURCE row before the explode (it is constant across a
    source's out-edges). Overflow bound: in-degree × quantum ≪ 2^63 for
    graphs up to ~10^6 in-degree at the default quantum.

    At 100 TB: the per-iteration shuffle moves only the O(nodes) rank
    table; the groupBy(dst) partial-aggregates map-side. The
    data-dependent-convergence alternative (iterate until delta < eps)
    is the same loop with a driver-side stopping check on an aggregated
    delta.
    """
    # localCheckpoint (not persist) for every loop-referenced table:
    # persist caches execution but Catalyst still re-walks the full
    # edge-construction tree at each iteration's joins; flat LogicalRDD
    # leaves keep per-round analysis O(round) instead of O(history)
    # (round-5 CC rationale; reliable checkpoint() is the
    # executor-loss-resilient swap-in at cluster scale).
    adj = (
        edges.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select("src", "dst")
        .groupBy("src")
        .agg(F.collect_set("dst").alias("_dsts"))
        .select("src", "_dsts", F.size("_dsts").alias("_d"))
        .transform(checkpoint_small)
    )
    nodes = (
        adj.select(F.col("src").alias("node"))
        .unionByName(adj.select(F.explode("_dsts").alias("node")))
        .distinct()
    )
    # The node list is consumed iterations+1 times. At the default 2
    # iterations, re-deriving it from the flat adjacency leaf (explode +
    # node-scale distinct) is cheaper than its checkpoint's
    # materialization job-set — paired A/B at sf0.1 1.22→1.04 s and
    # sf~1 1.48→1.39 s (round 11). Longer loops flip the trade (each
    # extra iteration re-pays a node-scale exchange, the checkpoint is
    # paid once), so they keep the flat leaf.
    if iterations > 2:
        nodes = nodes.transform(checkpoint_small)
    rank = nodes.withColumn("pr", F.lit(1.0))
    for _i in range(iterations):
        contrib = (
            adj.join(rank.select(F.col("node").alias("src"), "pr"), "src")
            .select(
                F.explode("_dsts").alias("dst"),
                F.floor(F.col("pr") / F.col("_d") * F.lit(quantum) + F.lit(0.5))
                .cast("long")
                .alias("_q"),
            )
        )
        sums = contrib.groupBy("dst").agg(F.sum("_q").alias("_sq"))
        rank = (
            nodes.join(sums.select(F.col("dst").alias("node"), "_sq"), "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("_sq"), F.lit(0)) / F.lit(quantum))
                ).alias("pr"),
            )
        )
        # Checkpoint cadence (round 6): every 2nd intermediate round,
        # never the final one. An uncheckpointed round doubles the plan
        # (bounded at 2x between checkpoints); each checkpoint costs a
        # materialization job-set on a kilobyte table. At the default 2
        # iterations no rank is materialized at all.
        if _i < iterations - 1 and (_i + 1) % 2 == 0:
            rank = rank.transform(checkpoint_small)
    return rank.select("node", F.col("pr").alias("pagerank"))
