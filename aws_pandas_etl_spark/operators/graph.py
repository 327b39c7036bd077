"""Iterative graph algorithms over edge DataFrames (PageRank).

PageRank is the canonical "iterative numeric fixpoint" workload a
relational engine is supposedly bad at; expressed Spark-first it is
just ``iters`` rounds of (join edges->ranks, groupBy destination,
left-join back to nodes), each round one shuffle on the destination
id.  Two determinism choices make it oracle-exact cross-engine:

- **Contribution sums go through DECIMAL.**  The per-edge contribution
  rank/outdeg is a deterministic double; rounding it to 10 digits and
  casting to DECIMAL(28,10) before SUM makes the per-node reduction
  order-independent (the REV_DK revenue pattern), so any partitioning
  — and DuckDB's unrolled-CTE twin — produces bit-identical ranks.
- **Dangling mass is dropped, not redistributed.**  Nodes without
  out-edges contribute nothing (total rank < 1); both engines replay
  the same convention.  The standard uniform-redistribution variant
  would need a per-iteration global scalar — one extra 1-row
  aggregate — without changing the plan shape.

Scale shape: per iteration, one equi-join of edges against the current
rank vector on the source id (AQE decides broadcast vs shuffle — at
web scale both sides are corpus-sized and shuffle on the same key, so
the exchange is reused), one map-side-combined groupBy on the
destination, one left join back to the node list.  Lineage is cut
every round with ``localCheckpoint`` (the connected-components
precedent) so the DAG stays linear in ``iters``, and the edge list is
checkpointed once instead of being recomputed by every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SUM_DIGITS = 10


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Rank every ``node`` of ``nodes`` after ``iters`` synchronous
    PageRank rounds over directed ``edges`` (``src``, ``dst``).
    Returns (node, pr).

    ``nodes`` must include isolated vertices (they receive only the
    teleport term); ``edges`` rows are unweighted — parallel edges
    count as parallel (dedupe upstream if unwanted)."""
    edges = edges.select("src", "dst").localCheckpoint()
    outd = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("outdeg"))
    n_nodes = nodes.agg(F.count("*").cast("bigint").alias("n_nodes"))

    pr = (
        nodes.crossJoin(F.broadcast(n_nodes))
        .select(
            "node", (F.lit(1.0) / F.col("n_nodes").cast("double")).alias("pr")
        )
        .localCheckpoint()
    )
    for _ in range(iters):
        contrib = (
            edges.join(outd, "src")
            .join(pr.select(F.col("node").alias("src"), "pr"), "src")
            .select(
                F.col("dst").alias("node"),
                F.round(
                    F.col("pr") / F.col("outdeg").cast("double"), PR_SUM_DIGITS
                )
                .cast(f"decimal(28,{PR_SUM_DIGITS})")
                .alias("w"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("w").cast("double").alias("s"))
        pr = (
            nodes.join(sums, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("n_nodes").cast("double")
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return pr
