"""Connected components — the duplicate-cluster builder (union-find over
near-dup pairs is how pairwise dedup results become keep/drop decisions in
a training-data pipeline).

Two algorithms behind one signature:

- ``label`` (default): min-label propagation, an iterative driver loop like
  the BFS (SURVEY.md §3.1 pattern). Each round is a join + min-aggregate;
  ``localCheckpoint`` keeps lineage flat. Rounds needed = graph diameter —
  fine for dup clusters (small and dense), wrong for long chains.
- ``star``: alternating large-star/small-star (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14). Converges in O(log² n)
  rounds regardless of diameter — the 100 TB-safe path for arbitrary
  graphs.

Convergence detection in both is a per-round scalar checksum
``(count, sum(xxhash64(...)))`` over the checkpointed state — one
aggregate job, no join and no broadcast of the full label/edge relation
(an earlier version broadcast the entire label set per round to diff old
vs new; at 100 TB that broadcasts billions of rows every iteration).
"""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    algorithm: str = "label",
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; component
    id = minimum node label in the component. Nodes are compared with
    their natural ordering (use consistent types).

    ``algorithm="label"`` needs ~diameter rounds; ``algorithm="star"``
    needs ~log² rounds on any shape. Emits a ``RuntimeWarning`` if
    ``max_iter`` is exhausted before convergence (labels may be split).

    Adaptive small-graph path: the deduplicated edge set is materialized
    (checkpointed) before iterating anyway; if its count is at most
    ``driver_threshold`` the components are solved with a driver-side
    union-find instead of a multi-job iterative loop — identical output
    (min-label components), microseconds instead of one Spark job per
    round. Near-dup pair graphs are typically tiny relative to the corpus
    that produced them, so this is the common case even at large scale;
    pass ``driver_threshold=0`` to force the distributed loop.
    """
    if algorithm == "label":
        return _label_propagation(pairs, src, dst, max_iter, driver_threshold)
    if algorithm == "star":
        return _alternating_star(pairs, src, dst, max_iter, driver_threshold)
    raise ValueError(f"unknown algorithm: {algorithm!r} (use 'label' or 'star')")


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact min-label components of a SMALL collected edge list (the
    caller has already bounded the size). Union-find with path halving;
    component id = minimum member, matching the distributed algorithms."""
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

    State transitions in both algorithms are monotone (labels only
    decrease, star edges only contract toward minima), so an unchanged
    checksum means an unchanged relation up to 64-bit-hash collision —
    no join against the previous round's full state needed.
    """
    # decimal accumulator: long sums of 64-bit hashes overflow under ANSI
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _warn_nonconverged(algorithm: str, max_iter: int) -> None:
    warnings.warn(
        f"connected_components({algorithm!r}) did not converge within "
        f"max_iter={max_iter}; components may be split. Raise max_iter or "
        f"use algorithm='star' for high-diameter graphs.",
        RuntimeWarning,
        stacklevel=3,
    )


def _label_propagation(
    pairs: DataFrame, src: str, dst: str, max_iter: int, driver_threshold: int = 0
) -> DataFrame:
    fwd = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = fwd.unionByName(
        fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)
    if edges.count() <= driver_threshold:
        return _driver_union_find(edges)

    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = _checksum(labels, "node", "label")

    converged = False
    for _ in range(max_iter):
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
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        _warn_nonconverged("label", max_iter)
    return labels.select("node", F.col("label").alias("component"))


def _alternating_star(
    pairs: DataFrame, src: str, dst: str, max_iter: int, driver_threshold: int = 0
) -> DataFrame:
    """Large-star/small-star alternation on a canonically-oriented edge set.

    Edges are kept as (u, v) with u > v. At the fixpoint the edge set is a
    union of stars, each centered at its component's minimum node, so the
    final mapping reads directly off the edges.
    """
    nodes = (
        pairs.select(F.col(src).alias("node"))
        .unionByName(pairs.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if edges.count() <= driver_threshold:
        # isolated nodes (self-loop-only inputs) are absent from the
        # canonical edges; restore them from the node set
        solved = _driver_union_find(edges)
        return (
            nodes.join(solved, "node", "left")
            .select("node", F.coalesce("component", "node").alias("component"))
        )
    prev_sum = _checksum(edges, "u", "v")

    converged = False
    for _ in range(max_iter):
        # large-star: every strictly-larger neighbor of u links to
        # m(u) = min(Γ(u) ∪ {u})
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        big_m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        )
        large = (
            sym.join(big_m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: u's not-the-minimum smaller neighbors (and u itself)
        # link to min(N(u) ∪ {u}) = min of its smaller neighbors
        small_m = large.groupBy("u").agg(F.min("v").alias("m"))
        with_m = large.join(small_m, "u")
        edges = (
            with_m.where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(small_m.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur_sum = _checksum(edges, "u", "v")
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        _warn_nonconverged("star", max_iter)

    # stars point child → root (component minimum); roots and isolated
    # nodes (e.g. self-loop-only inputs) map to themselves
    mapping = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(mapping, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )
