"""Connected components — the duplicate-cluster builder (union-find over
near-dup pairs is how pairwise dedup results become keep/drop decisions in
a training-data pipeline).

One path behind one signature: the symmetric edge set is pinned
(``localCheckpoint``); an edge set of at most :data:`DRIVER_THRESHOLD`
edges is solved by a driver-side union-find, a larger one by min-label
propagation, an iterative driver loop like the BFS (SURVEY.md §3.1
pattern). Each round is a join + min-aggregate; ``localCheckpoint`` keeps
lineage flat. Rounds needed = graph diameter — fine for dup clusters
(small and dense), which is the only graph the engine runs it on.

Convergence detection is a per-round scalar checksum
``(count, sum(xxhash64(...)))`` over the checkpointed state — one
aggregate job, no join and no broadcast of the full label relation (an
earlier version broadcast the entire label set per round to diff old vs
new; at 100 TB that broadcasts billions of rows every iteration).
"""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Label-propagation rounds before giving up with a RuntimeWarning; a
# component of diameter above it may come back split.
MAX_ITER = 20
# Largest deduplicated edge count solved on the driver. Near-dup pair
# graphs are tiny relative to the corpus that produced them, so this is
# the path every workload takes; tests set it to 0 to run the loop.
DRIVER_THRESHOLD = 100_000


def connected_components(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; component
    id = minimum node label in the component. Nodes are compared with
    their natural ordering (use consistent types).

    The deduplicated symmetric edge set is materialized (checkpointed)
    first; if its count is at most :data:`DRIVER_THRESHOLD` the
    components are solved with a driver-side union-find instead of a
    multi-job iterative loop — identical output (min-label components),
    microseconds instead of one Spark job per round. Above it, label
    propagation needs ~diameter rounds and emits a ``RuntimeWarning`` if
    :data:`MAX_ITER` is exhausted before convergence (labels may be
    split).
    """
    fwd = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = fwd.unionByName(
        fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)
    if edges.count() <= DRIVER_THRESHOLD:
        return _driver_union_find(edges)

    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = _checksum(labels, "node", "label")

    for _ in range(MAX_ITER):
        # neighbor labels flow along edges; every node keeps its own too
        msgs = (
            edges.join(labels, edges["a"] == labels["node"], "inner")
            .select(F.col("b").alias("node"), F.col("label"))
        )
        labels = (
            labels.select("node", "label")
            .unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur_sum = _checksum(labels, "node", "label")
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        warnings.warn(
            f"connected_components did not converge within "
            f"MAX_ITER={MAX_ITER}; components may be split.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", F.col("label").alias("component"))


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact min-label components of a SMALL collected edge list (the
    caller has already bounded the size). Union-find with path halving;
    component id = minimum member, matching label propagation."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for row in edges.collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict = {}
    for n in parent:
        r = find(n)
        if r not in roots or n < roots[r]:
            roots[r] = n
    t = edges.schema[0].dataType.simpleString()
    frame = pd.DataFrame(
        [(n, roots[find(n)]) for n in parent], columns=["node", "component"]
    )
    return local_relation(
        edges.sparkSession, frame, f"node {t}, component {t}"
    )


def local_relation(spark: SparkSession, frame: pd.DataFrame, schema: str) -> DataFrame:
    """A driver-computed result as a relation: ``frame`` under ``schema``.

    With Arrow on, a pandas frame becomes a JVM ``LocalRelation``, which
    a later plan scans in place; a Python list of rows becomes a
    ``LogicalRDD`` over a Python RDD, and every scan of it starts
    Python-worker tasks. With Arrow off both are a ``LogicalRDD``, with
    the same rows."""
    return spark.createDataFrame(frame, schema)


def _checksum(df: DataFrame, *cols: str) -> tuple[int, int | None]:
    """One-scalar convergence probe: (row count, sum of xxhash64 of cols).

    Labels only decrease from round to round, so an unchanged checksum
    means an unchanged relation up to 64-bit-hash collision — no join
    against the previous round's full state needed.
    """
    # decimal accumulator: long sums of 64-bit hashes overflow under ANSI
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]
