"""Bounded weighted single-source shortest paths (delta-relaxing
Bellman-Ford) — the third iterative graph operator next to BFS
(set-union semantics, ``operators/graph.py``) and PageRank (sum
semantics, ``operators/pagerank.py``): SSSP is the MIN-PLUS semiring
member of the family.

K relaxation rounds compute the exact minimum distance over all paths of
at most K edges — the bounded-hop form every fixed-depth "influence
radius" query wants, and the form a SQL oracle can replay as K unrolled
rounds of full relaxation. The operator relaxes only the DELTA (nodes
whose distance improved last round) instead of the whole distance table;
the two are provably identical round-for-round (an unimproved node
re-contributes only edges already considered), so the delta optimization
is pure plan savings, not a semantics change.

All arithmetic is integer (caller supplies integer weights), so results
are exact and hash-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imdb_mapreduce_spark.operators.graph import one_row


def bounded_sssp(
    edges: DataFrame,
    source: int,
    rounds: int,
    max_broadcast_rows: int = 1_000_000,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact min-distance from ``source`` over paths of <= ``rounds``
    edges. ``edges`` must have integer columns (src, dst, w), w >= 0.

    Scale posture per round: ONE frontier⋈edges join (frontier broadcast
    while its exact row count stays under ``max_broadcast_rows`` — the
    same escape hatch as the BFS operator), one map-side-combining MIN
    aggregation, one improvement anti-check against the running distance
    table, and a ``localCheckpoint`` to keep lineage flat. Early exit
    when a round improves nothing (the frontier drains)."""
    node, zero = F.lit(int(source)).cast("bigint"), F.lit(0).cast("bigint")
    dist = one_row(edges.sparkSession, node.alias("node"), zero.alias("dist"))
    frontier = dist
    frontier_rows = 1
    dist_rows_bound = 1  # running upper bound: grows by ≤ frontier_rows/round
    for _ in range(rounds):
        # explicit aliases: the frontier's lineage includes the edge table
        # when checkpointing is off, so DataFrame-indexed column refs
        # would be ambiguous in this self-referencing join
        f = frontier.alias("f")
        if frontier_rows <= max_broadcast_rows:
            f = F.broadcast(f)
        relaxed = f.join(
            edges.alias("e"), F.col("f.node") == F.col("e.src")
        ).select(
            F.col("e.dst").alias("node"),
            (F.col("f.dist") + F.col("e.w")).cast("bigint").alias("d"),
        )
        cand = relaxed.groupBy("node").agg(F.min("d").alias("d"))
        old = dist.select("node", F.col("dist").alias("old_dist"))
        if dist_rows_bound <= max_broadcast_rows:
            # gate on the DISTANCE TABLE's own size bound, not the
            # frontier's — late rounds can have a tiny frontier over a
            # huge reached set; past the gate AQE picks from runtime sizes
            old = F.broadcast(old)
        improved = (
            cand.join(old, "node", "left")
            .filter(F.col("old_dist").isNull() | (F.col("d") < F.col("old_dist")))
            .select("node", F.col("d").alias("dist"))
        )
        if checkpoint:
            # lazy: the count() below materializes the blocks in the same
            # job — r16 drops the dedicated eager-checkpoint action per
            # round (guide §2.6: per-action overhead was the measured
            # cost center for the iterative family at local SFs)
            improved = improved.localCheckpoint(eager=False)
        frontier_rows = improved.count()
        if frontier_rows == 0:
            break
        dist_rows_bound += frontier_rows
        frontier = improved
        dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if checkpoint:
            # lazy too: materialized by the NEXT round's count (the
            # improvement check reads `dist`) or the caller's action —
            # lineage is truncated either way, no dedicated job
            dist = dist.localCheckpoint(eager=False)
    return dist
