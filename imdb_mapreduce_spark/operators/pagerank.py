"""PageRank as iterative DataFrame joins — the second iterative algorithm
in the engine (alongside ``operators/components.py``).

Two execution paths in :func:`pagerank_exact`, chosen by one ``count()``
of the edge relation:

- **Driver rounds**, at most :data:`DRIVER_MAX_EDGES` edges: one Arrow
  collect of the edges, then the same scaled-integer rounds in numpy
  int64, returned as a JVM ``LocalRelation``. Three Spark jobs (the
  count, which adaptive execution runs as two, and the collect) instead
  of four or more per round. This is the
  reference's posture — the whole graph in RAM, answered from memory
  (SURVEY §0) — and the point of McSherry et al., "Scalability! But at
  what COST?" (HotOS 2015): a graph that fits one machine runs PageRank
  faster in a plain loop than on a distributed engine.
- **Distributed rounds**, past the bound. The rest of this docstring is
  about them.

Execution shape per distributed iteration: one join (ranks onto the
degree-annotated edge table) + one aggregation (contributions per
destination), both shuffling on the node key — the minimal shuffle set
for distributed PageRank. Lineage is truncated with ``localCheckpoint``
every few rounds (the same discipline as BFS/components: an unbounded
iterative plan DAG is what kills iterative Spark jobs at scale, not the
math). Cadence measured r06 over 10 iterations at sf0.1: ISOLATED
min-of-3 ranks every-5 best (1/2/3/5/10 → 5.0/4.3/4.1/3.8/5.3 s), but
inside the 59-query bench — where other queries' cached blocks pressure
the storage memory — every-5 regressed to 5.4 s while every-3 held
4.0 s: longer segments keep more recomputable lineage alive exactly when
eviction is likely. Default is 3, the pressured-context winner; the right
cadence on a real cluster still trades block pressure against plan depth
and belongs to the caller.

100 TB posture of the distributed rounds:
- the edge table is degree-annotated ONCE and cached — per-iteration work
  touches only (node, rank) tuples beyond it;
- no driver-side state but two scalar counts (N, and the convergence
  probe if enabled); ranks never ``collect()``;
- a bucketed edge layout on the src key (``sources/storage``) removes the
  per-iteration edge-side shuffle entirely, leaving only the rank-side
  exchange — the same co-location trick the BFS tests pin.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imdb_mapreduce_spark.operators.components import local_relation

# pagerank_exact runs a graph of at most this many edges on the driver.
# sf0.1's co-purchase graph (2.39 M edges) fits. At the bound the
# collected edges and the per-edge int64 arrays peaked at 455 MB Python
# RSS (+320 MB over the session) on a 4 M-edge bigint graph. Kept like
# graph_queries' PR_PERSIST_MAX_SRC_ROWS: a data-proportional decision,
# not an option.
DRIVER_MAX_EDGES = 4_000_000
INT64_MAX = 2**63 - 1


def pagerank_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**15,
    checkpoint_every: int = 3,
    max_broadcast_rows: int = 1_000_000,
    final_checkpoint: bool = True,
    deg: str | None = None,
    persist_edges: bool = True,
    shuffle_gc: bool = False,
) -> DataFrame:
    """Fixed-point PageRank in SCALED INTEGER arithmetic — every operation
    is bigint multiply / floor-divide / sum, so the result is independent
    of summation order and bit-identical across engines (the repo's
    exact-DECIMAL money trick applied to an iterative algorithm; VERDICT
    r04 item 4). Returns (node, rank_scaled) with rank ≈ rank_scaled /
    scale.

    A graph of at most :data:`DRIVER_MAX_EDGES` edges runs on the driver
    (see the module docstring): one ``count()`` decides, one Arrow collect
    fetches the edges, and numpy int64 runs the same rounds term for term,
    so both paths return the same ranks bit for bit. Where Spark's ANSI
    arithmetic would raise on a bigint overflow, the driver rounds raise
    ``OverflowError`` instead of wrapping. ``persist_edges``,
    ``checkpoint_every``, ``shuffle_gc``, ``final_checkpoint`` and
    ``max_broadcast_rows`` apply only to the distributed rounds.

    The distributed rounds have the shuffle shape the module docstring
    describes (one join + one agg per round, checkpointed lineage).
    Bound check at scale=10^15: total rank mass ≤ 10^15, so per-node contributions sum
    < 10^15 and the damping multiply peaks below 10^17 — five orders of
    magnitude inside int64.
    The floor divisions leak ≤ deg ulps of mass per node per round:
    deterministic, engine-identical, and irrelevant at 10^-15 resolution.

    Dangling nodes (no out-edges) contribute nothing — the standard
    simplification; symmetrized graphs have none.

    ``deg`` names a PRECOMPUTED out-degree column on ``edges`` (the silver
    ``copurchase_edges`` table carries one since r08): the degree
    groupBy + self-join is then skipped entirely — the annotated edge
    relation is the scan itself. Measured r08 at sf0.1 (10 rounds,
    min-of-3 isolated): 4.67 s → 4.14 s (−11%), the whole
    degree-annotation stage gone; per-round plans are identical.
    """
    # numpy's // floors and Spark's `div` truncates: they agree while every
    # operand is non-negative, which these parameters guarantee.
    if (
        0 <= damping_num <= damping_den
        and scale >= 0
        and edges.count() <= DRIVER_MAX_EDGES
    ):
        ranks = _driver_rounds(
            edges, src, dst, deg, iterations, damping_num, damping_den, scale
        )
        if ranks is not None:
            return ranks
    # ``persist_edges`` exists because caching a CORPUS-SIZED relation
    # assumes cache capacity scales with the corpus (r09) — on a single
    # JVM it doesn't: at the 1000× corpus (2.4B edges ≈ tens of GB
    # deserialized vs an 8 GB heap) the MEMORY_AND_DISK eviction churn
    # lost blocks under GC pressure ("Block rdd_N does not exist") and
    # killed the job — the cache analog of the FIXED-WIDTH-AT-SCALE
    # class. The cache is NOT free to drop either: measured at sf0.1
    # (min-of-3, same host, A/B) the persisted run is 3.83 s vs 5.10 s
    # scan-backed (+33% — ten rounds re-pay the scan+project). So the
    # decision is the caller's data-proportional call: pagerank_coparts
    # persists while a zero-job footer probe of the edge SOURCE stays
    # under PR_PERSIST_MAX_SRC_ROWS and drops the cache past it —
    # driver-SF plans and times unchanged, corpus scale survives.
    ed_persisted = None
    if deg is not None:
        e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        ed = edges.select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            F.col(deg).alias("_deg"),
        )
        if persist_edges:
            ed = ed.persist()
            ed_persisted = ed
    else:
        e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        degrees = e.groupBy("_src").agg(F.count("*").alias("_deg"))
        ed = e.join(degrees, "_src")
        if persist_edges:
            ed = ed.persist()
            ed_persisted = ed
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .persist()
    )
    try:
        n = nodes.count()
        # guarded broadcast: while the nodes fit, ranks and contributions
        # broadcast into each round's joins, so a round pays one exchange
        # (the contribution aggregation) instead of two; past the bound
        # AQE plans from runtime sizes, as in operators/graph
        bc = n <= max_broadcast_rows
        r0 = scale // n
        base = (scale * (damping_den - damping_num) // damping_den) // n
        ranks = nodes.withColumn("rank_scaled", F.lit(r0).cast("bigint"))
        for i in range(iterations):
            r = F.broadcast(ranks) if bc else ranks
            contribs = (
                ed.join(r, ed._src == r.node)
                .select("_dst", F.expr("rank_scaled div _deg").alias("_c"))
                .groupBy("_dst")
                .agg(F.sum("_c").alias("_contrib"))
            )
            if bc:
                contribs = F.broadcast(contribs)
            ranks = (
                nodes.join(contribs, nodes.node == contribs._dst, "left")
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.expr(
                            f"({damping_num} * coalesce(_contrib, CAST(0 AS BIGINT)))"
                            f" div {damping_den}"
                        )
                    ).cast("bigint").alias("rank_scaled"),
                )
            )
            if (i + 1) % checkpoint_every == 0:
                ranks = ranks.localCheckpoint(eager=True)
                if shuffle_gc:
                    # Shuffle-file hygiene for corpus-scale iteration
                    # (r09): every round writes a shuffle ∝ edge count
                    # (the contribution agg's map outputs — ~19 GB/round
                    # at the 1000× corpus), and those files are released
                    # only when the ShuffleDependency objects are GC'd
                    # AFTER a checkpoint truncates the lineage that
                    # references them. Left to the default 30-min
                    # periodic GC, rounds×volume accumulates and fills
                    # local disk ("No space left on device" at 1000×,
                    # stage 37). A driver System.gc() right after each
                    # checkpoint lets the ContextCleaner release the
                    # pre-checkpoint shuffles before the next round
                    # writes — disk high-water ≈ one checkpoint
                    # interval's shuffles instead of the whole run's.
                    # Python first: the superseded round's DataFrames
                    # (old ranks/contribs and their checkpointed RDD
                    # blocks) stay JVM-referenced through Py4J until
                    # Python collects them — System.gc() alone freed
                    # nothing (run 3 of the 1000× observation OOMed on
                    # execution memory with every round's checkpoint
                    # blocks still resident). Off by default: at driver
                    # SFs a full GC per checkpoint costs more than the
                    # kilobytes it frees (callers gate it on the same
                    # footer probe as persist_edges).
                    import gc

                    gc.collect()
                    # `_jvm` is a private Py4J handle absent on Spark
                    # Connect (and not API-stable): degrade to
                    # checkpoint-only + Python GC with a logged skip
                    # rather than hard-failing the at-scale branch
                    # (VERDICT r09 item 3). The checkpoint still
                    # truncates lineage; only the PROMPT release of
                    # pre-checkpoint shuffle files is lost, which the
                    # periodic ContextCleaner GC eventually does.
                    try:
                        jvm = edges.sparkSession.sparkContext._jvm
                        jvm.System.gc()
                    except Exception as exc:  # pragma: no cover - msg only
                        import warnings

                        warnings.warn(
                            "pagerank_exact(shuffle_gc=True): JVM GC "
                            f"unavailable on this session ({exc!r}); "
                            "continuing checkpoint-only — pre-checkpoint "
                            "shuffle files are released by the periodic "
                            "ContextCleaner instead of per-round",
                            RuntimeWarning,
                            stacklevel=2,
                        )
        # final_checkpoint=False is the plan-inspection path: it returns
        # the last round's UNtruncated plan so tests can explain() the
        # per-iteration join shape (a checkpoint erases the lineage the
        # assertion needs to see). Production callers keep the default.
        return ranks.localCheckpoint(eager=True) if final_checkpoint else ranks
    finally:
        if ed_persisted is not None:
            ed_persisted.unpersist()
        nodes.unpersist()


def _driver_rounds(
    edges: DataFrame,
    src: str,
    dst: str,
    deg: str | None,
    iterations: int,
    damping_num: int,
    damping_den: int,
    scale: int,
) -> DataFrame | None:
    """:func:`pagerank_exact`'s rounds on the driver, over one Arrow
    collect of ``edges`` (the caller has bounded their count). None when
    the endpoints' types differ (Spark widens them to one node type), or
    when an edge has a null endpoint or degree, or a degree below 1
    (Spark's joins drop such edges, or its `div` raises on them): the
    distributed rounds keep those semantics."""
    node_t = edges.schema[src].dataType
    if edges.schema[dst].dataType != node_t:
        return None
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if deg is not None:
        cols.append(F.col(deg).cast("bigint").alias("deg"))
    frame = edges.select(*cols).toPandas()
    if frame.isna().any(axis=None) or (deg is not None and (frame["deg"] < 1).any()):
        return None
    m = len(frame)
    codes, nodes = pd.factorize(pd.concat([frame["src"], frame["dst"]], ignore_index=True))
    n = len(nodes)
    r = np.full(n, scale // n, dtype=np.int64)
    base = (scale * (damping_den - damping_num) // damping_den) // n
    src_i, dst_i = codes[:m], codes[m:]
    if deg is None:  # each src's edge count, duplicates included
        out_deg = np.bincount(src_i, minlength=n)[src_i]
    else:
        out_deg = frame["deg"].to_numpy(np.int64)
    for _ in range(iterations):
        c = r[src_i] // out_deg
        contrib = np.zeros(n, dtype=np.int64)
        np.add.at(contrib, dst_i, c)
        # Every term is non-negative, so the int64 sums wrap only past
        # 2^63: one in [2^63, 2^64) reads negative, and a float64 shadow
        # sum (relative error < 1e-9 at this bound) shows one past 2^64.
        # The largest sum then bounds the multiply and the add exactly.
        shadow = np.bincount(dst_i, weights=c, minlength=n)
        top = int(contrib.max(initial=0)) * damping_num
        if (
            (contrib < 0).any()
            or shadow.max(initial=0) > 1.5 * 2.0**63
            or top > INT64_MAX
            or base + top // damping_den > INT64_MAX
        ):
            raise OverflowError(
                "pagerank_exact: a scaled rank exceeds bigint; lower `scale`"
            )
        r = base + damping_num * contrib // damping_den
    t = node_t.simpleString()
    return local_relation(
        edges.sparkSession,
        pd.DataFrame({"node": np.asarray(nodes), "rank_scaled": r}),
        f"node {t}, rank_scaled bigint",
    )
