"""Bounded-depth BFS over the bipartite movie↔actor graph (SURVEY.md §2.9).

The reference's single interactive query (``/root/reference/src/master/
master.erl:251-288``): given a name and a level k, produce the k-level
co-star graph (actor query) or shared-cast movie graph (movie query).

Semantics preserved exactly (SURVEY.md §3.1):
- each *level* is a TWO-hop expansion whose intermediate hop (the movie when
  querying an actor; the actor when querying a movie) is not added to the
  graph — edges connect same-type entities;
- one GLOBAL visited set: a child discovered once is never re-added (the
  result is a tree rooted at the query name);
- level k performs k−1 expansion rounds (``master.erl:259,271``).

One documented semantic cleanup: the reference attaches a child to whichever
parent its sequential recursion happened to reach first — traversal-order
dependent (``master.erl:295-304``). We attach each child to its MINIMUM
discovering parent (deterministic under any partitioning / parallelism).

Scale posture: the loop is driver-side control flow over fully distributed
joins (same design GraphFrames uses). Each round:
``frontier ⋈ edges ⋈ edges`` (two shuffles on the edge keys; broadcast of
the frontier when small), then a ``left_anti`` against visited. Rounds
``localCheckpoint()`` to truncate the growing lineage — without it the plan
doubles per iteration. With TWO bucketed layouts of the edge table — one
hashed on ``node_col`` for the outbound hop, one on ``via_col`` for the
return hop (pass it as ``edges_inverted``) — the big table is never
re-shuffled in any round: only the tiny frontier-derived sides move. This
is the durable analog of the reference keeping both adjacency directions
(``dataInit.erl`` A1/A2), and is pinned by
``tests/test_storage.py::test_bucketed_bfs_round_join_needs_no_edge_shuffle``.

Seeds are JVM ``range`` leaves (:func:`one_row`): a local-rows
``createDataFrame`` is a Python RDD whose every scan starts Python-worker
tasks (~250 ms each on 4 cores). A round runs its ``count`` and broadcast
jobs (5 on an 18.6k-edge cast graph), plus one degree job if not passed in.

Budgeted point lookups (``costar_bfs(..., adjacency=Adjacency(edges))``,
the reply path of ``ImdbEngine.request``): a reply the budget bounds needs
no distributed round. As the reference answers from its two in-RAM
inverted indexes (``server.erl:111-152``), :func:`_lookup_rounds` runs
each round as two lookups — frontier → vias, then vias → co-entities —
and does min-parent attachment, the visited set and both budget checks
on the driver, over sets the budget bounds. The lookups read an
:class:`Adjacency`: a bounded read-through cache of the two inverted
indexes (actor → titles, title → actors; the reference's ``actors_db``
and ``titles_db``), shared by both query directions. Keys it holds are
answered from memory; the missing ones go to Spark as one filtered
collect on the cached edge table, and each fetched key is kept with its
distinct values, a key without rows as empty. A key another thread is
fetching is waited for, not fetched twice. It holds at most
:data:`ADJACENCY_MAX_VALUES` values, evicting least-recently-used keys,
and it stays exact because the edge table is never changed after the
engine is built (``ImdbEngine.unpersist`` clears it). So a repeated
request, or one whose root an earlier round already expanded, runs no
job, and a cached reply or refusal equals a cold one. A round is at
most two jobs with no join, shuffle, broadcast, ``count`` or
checkpoint; a round refused on the work estimate runs none. Each key set
enters the plan as ONE literal: a JSON array that ``from_json`` parses and
Catalyst folds into an array constant, tested with ``array_contains``. It
costs a few ms to build at any size. ``Column.isin(keys)`` turns every key
into its own py4j literal, 0.6–1.4 ms per name on a 4-core host (0.3–0.8 s
for 500 names), so the large frontiers of refused requests would pay more
for the literal than for the round. JSON escapes every character,
so no name (commas, quotes, backslashes, NUL, non-BMP) can split a key.
"""

from __future__ import annotations

import json
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass, replace
from functools import cache, reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MOVIE = "movie"
ACTOR = "actor"
# query direction → (node_col, via_col) over the (tconst, title, actor) table
COSTAR_COLS = {ACTOR: ("actor", "title"), MOVIE: ("title", "actor")}


class BfsBudgetExceeded(RuntimeError):
    """A traversal outgrew its caller's result budget mid-round — the
    service-grade guard mirroring the reference master's 10 s pcall
    timeout (``master.erl:240``): an interactive request must fail fast
    with a bounded error instead of materializing an unbounded graph.

    Raised BETWEEN rounds (each round's frontier count is already
    materialized by the checkpoint, or held on the driver by the point-
    lookup rounds, so the check is free) — the traversal aborts before the
    next expansion is even planned."""

    def __init__(
        self, visited: int, budget: int, level: int, estimated: bool = False
    ) -> None:
        self.visited, self.budget, self.level = visited, budget, level
        self.estimated = estimated
        kind = "estimated expansion work" if estimated else "vertices reached"
        super().__init__(
            f"BFS budget exceeded: {visited} {kind} at level "
            f"{level} > max_vertices={budget}; narrow the query (lower "
            "level) or raise the budget"
        )


def one_row(spark, *cols: Column) -> DataFrame:
    """One row of ``cols`` on a one-partition JVM ``range`` leaf — not the
    Python RDD (``sc.parallelize``) a local-rows ``createDataFrame`` is."""
    return spark.range(0, 1, 1, 1).select(*cols)


def avg_degree(edges: DataFrame, node_col: str) -> float:
    """Edges per distinct ``node_col`` (HyperLogLog estimate). One job, no
    shuffle of the edge table: count and sketch both fold map-side."""
    stats = edges.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.approx_count_distinct(node_col).alias("n_nodes"),
    ).collect()[0]
    return stats["n_edges"] / max(1, stats["n_nodes"])


# Pre-join fail-fast slack: a round is refused BEFORE its expansion join
# runs when the ESTIMATED candidate-row count exceeds max_vertices × this
# factor (candidates over-count unique new vertices by the duplicate-parent
# factor, so the work bound is deliberately looser than the exact post-round
# vertex check, which remains). r06 review: the post-round-only check let a
# single hub round do ALL the unbounded work before raising.
BFS_WORK_SLACK = 16


def _bfs_rounds(
    spark,
    root: str,
    level: int,
    checkpoint: bool,
    max_broadcast_rows: int,
    max_vertices: int | None,
    expand,
    node_type: str,
) -> BfsResult:
    """The shared k-level round machinery (r06 review: bipartite and
    unipartite previously copy-pasted these ~45 lines, and only one had
    the budget guard). ``expand(frontier, frontier_rows) -> (pairs,
    est_candidates)`` supplies the operator-specific expansion join plus
    an optional candidate-row estimate for the pre-join budget check;
    everything else — min-parent dedup BEFORE the visited anti-join (the
    ordering that keeps Catalyst from pushing the anti-join into a
    full-table exchange), guarded broadcasts, per-round localCheckpoint,
    budget enforcement, vertex assembly — lives exactly once."""
    # node domain follows the root's Python type (string for name graphs,
    # long for id graphs — the id form keeps bucketed layouts usable)
    node_sql = "string" if isinstance(root, str) else "bigint"
    root_lit = F.lit(root).cast(node_sql)
    frontier = one_row(spark, root_lit.alias("node"))
    frontier_rows = 1
    visited = frontier
    visited_rows = 1
    rounds: list[DataFrame] = []

    for lvl in range(1, level):
        pairs, est_candidates = expand(frontier, frontier_rows)
        if (
            max_vertices is not None
            and est_candidates is not None
            and est_candidates > max_vertices * BFS_WORK_SLACK
        ):
            raise BfsBudgetExceeded(
                int(est_candidates), max_vertices, lvl, estimated=True
            )
        anti = visited
        if visited_rows <= max_broadcast_rows:
            anti = F.broadcast(anti)
        dedup = pairs.groupBy("dst").agg(F.min("src").alias("src"))
        children = (
            dedup.join(anti, dedup["dst"] == anti["node"], "left_anti")
            .select("src", "dst")
            .withColumn("level", F.lit(lvl))
        )
        if checkpoint:
            # lazy: the count() below materializes the blocks in the same
            # job — one action per round instead of two (r16, guide §2.6)
            children = children.localCheckpoint(eager=False)
        frontier_rows = children.count()
        if frontier_rows == 0:
            break
        rounds.append(children)
        new_nodes = children.select(F.col("dst").alias("node"))
        visited = visited.unionByName(new_nodes)
        visited_rows += frontier_rows
        if max_vertices is not None and visited_rows > max_vertices:
            raise BfsBudgetExceeded(visited_rows, max_vertices, lvl)
        frontier = new_nodes

    if not rounds:  # level 1, or a root without neighbours: no edges
        cols = (root_lit.alias("src"), root_lit.alias("dst"), F.lit(0).alias("level"))
        rounds.append(one_row(spark, *cols).limit(0))
    result_edges = reduce(DataFrame.unionByName, rounds)
    vertices = (
        result_edges.select(F.col("src").alias("name"))
        .unionByName(result_edges.select(F.col("dst").alias("name")))
        .unionByName(one_row(spark, root_lit.alias("name")))
        .distinct()
    )
    return BfsResult(
        root=root, node_type=node_type, edges=result_edges, vertices=vertices
    )


@dataclass
class BfsResult:
    """Mirror of the reference's reply ``{Vertices, Edges}``
    (``master.erl:261-263``). Driver rounds (:func:`_lookup_rounds`)
    carry the (level, src, dst)-sorted edge list and no vertex relation."""

    root: str
    node_type: str
    edges: DataFrame | list[tuple]  # (src, dst, level)
    vertices: DataFrame | None  # (name,)


def _lookup(edges: DataFrame, key_col: str, keys, val_col: str) -> list:
    """``(key, val)`` rows of ``edges`` whose ``key_col`` is in ``keys``:
    one filtered scan, one job. The key set is one JSON-array literal."""
    key_set = F.from_json(F.lit(json.dumps(list(keys))), "array<string>")
    hits = edges.filter(F.array_contains(key_set, F.col(key_col)))
    return hits.select(key_col, val_col).collect()


# The most values an Adjacency holds (an empty key counts as one):
# ImdbEngine.REQUEST_MAX_VERTICES × BFS_WORK_SLACK, what one budgeted
# hop-2 collect may already hold on the driver.
ADJACENCY_MAX_VALUES = 100_000 * BFS_WORK_SLACK
# The longest a lookup waits for another thread's fetch of a key it
# misses before fetching the key itself; a lookup job takes well under a
# second on a 4-core host.
ADJACENCY_WAIT_S = 10.0


class Adjacency:
    """A bounded read-through cache of ``edges``' adjacency lists, keyed
    by (key column, value column, key); see the module docstring. One lock
    guards the dict operations only: it is never held across a Spark job,
    so a miss does not block hits. A key being fetched carries an in-flight
    marker, and a second thread that misses it waits for that fetch (at
    most :data:`ADJACENCY_WAIT_S`) instead of running its own; if the
    fetch raises or the wait runs out, the waiter fetches the key itself."""

    def __init__(self, edges: DataFrame) -> None:
        self.edges = edges
        self._lists: OrderedDict[tuple, tuple] = OrderedDict()
        self._size = 0
        self._lock = threading.Lock()
        self._inflight: dict[tuple, threading.Event] = {}

    def lookup(self, key_col: str, keys, val_col: str) -> list[tuple]:
        """``(key, val)`` pairs of ``keys``, each val once per key. Only
        the keys neither held nor in flight run a job: one :func:`_lookup`
        for all of them."""
        keys = list(keys)
        lists: dict = {}
        mine: list = []
        theirs: dict = {}
        with self._lock:
            for k in dict.fromkeys(keys):
                ck = (key_col, val_col, k)
                vals = self._lists.get(ck)
                if vals is not None:
                    self._lists.move_to_end(ck)
                    lists[k] = vals
                elif ck in self._inflight:
                    theirs[k] = self._inflight[ck]
                else:
                    self._inflight[ck] = threading.Event()
                    mine.append(k)
        if mine:
            lists.update(self._fetch(key_col, mine, val_col, claimed=True))
        deadline = time.monotonic() + ADJACENCY_WAIT_S
        for k, fetched in theirs.items():
            fetched.wait(max(0.0, deadline - time.monotonic()))
            with self._lock:
                vals = self._lists.get((key_col, val_col, k))
            if vals is not None:
                lists[k] = vals
        rest = [k for k in theirs if k not in lists]
        if rest:
            lists.update(self._fetch(key_col, rest, val_col, claimed=False))
        return [(k, v) for k in keys for v in lists[k]]

    def _fetch(self, key_col: str, keys: list, val_col: str, claimed: bool) -> dict:
        """One :func:`_lookup` for ``keys``, kept and returned as key →
        vals. With ``claimed`` the keys' in-flight markers are this call's:
        they are released once the values are kept, or when the job raises."""
        try:
            fetched: dict = {k: {} for k in keys}
            for k, v in _lookup(self.edges, key_col, keys, val_col):
                fetched[k][v] = None
            with self._lock:
                out = {
                    k: self._put((key_col, val_col, k), tuple(vals))
                    for k, vals in fetched.items()
                }
                while self._size > ADJACENCY_MAX_VALUES:
                    self._size -= max(1, len(self._lists.popitem(last=False)[1]))
            return out
        finally:
            if claimed:
                with self._lock:
                    for k in keys:
                        self._inflight.pop((key_col, val_col, k)).set()

    def _put(self, key: tuple, vals: tuple) -> tuple:
        old = self._lists.pop(key, None)
        if old is not None:  # a waiter that gave up fetched it too
            self._size -= max(1, len(old))
        self._lists[key] = vals
        self._size += max(1, len(vals))
        return vals

    @property
    def size(self) -> int:
        """The values held, an empty key counting as one."""
        return self._size

    def clear(self) -> None:
        with self._lock:
            self._lists.clear()
            self._size = 0


def _lookup_rounds(
    adjacency: Adjacency,
    root: str,
    node_col: str,
    via_col: str,
    level: int,
    max_vertices: int | None,
    degree: float | None,
) -> list[tuple]:
    """:func:`bipartite_bfs`'s rounds and budget rules as driver-side point
    lookups on ``adjacency``; returns the (level, src, dst)-sorted edges.
    Each lookup is bounded by the previous round's budget checks: hop 1
    returns the edges of ≤ ``max_vertices`` frontier keys, hop 2 one
    round's candidate edges (~frontier × degree², which the work estimate
    caps at ``BFS_WORK_SLACK`` × budget on average)."""
    deg_of = cache(
        lambda: avg_degree(adjacency.edges, node_col) if degree is None else degree
    )
    visited = {root}
    frontier = [root]
    out: list[tuple] = []
    for lvl in range(1, level):
        if max_vertices is not None:
            deg = deg_of()
            # bipartite_bfs's pre-join estimate, the same float expression
            est = len(frontier) * deg * deg
            if est > max_vertices * BFS_WORK_SLACK:
                raise BfsBudgetExceeded(int(est), max_vertices, lvl, estimated=True)
        # hop 1: each via's minimum frontier parent
        parent: dict[str, str] = {}
        for node, via in adjacency.lookup(node_col, frontier, via_col):
            if via not in parent or node < parent[via]:
                parent[via] = node
        if not parent:
            break
        # hop 2: each unvisited co-entity's minimum parent (a frontier node
        # is visited, so no node becomes its own child)
        children: dict[str, str] = {}
        for via, node in adjacency.lookup(via_col, parent, node_col):
            if node not in visited and (node not in children or parent[via] < children[node]):
                children[node] = parent[via]
        if not children:
            break
        visited.update(children)
        out.extend((src, dst, lvl) for dst, src in children.items())
        if max_vertices is not None and len(visited) > max_vertices:
            raise BfsBudgetExceeded(len(visited), max_vertices, lvl)
        frontier = list(children)
    return sorted(out, key=lambda e: (e[2], e[0], e[1]))


def _two_hop(
    frontier: DataFrame,
    edges: DataFrame,
    node_col: str,
    via_col: str,
    broadcast_frontier: bool = True,
    broadcast_hop1: bool = True,
    edges_inverted: DataFrame | None = None,
) -> DataFrame:
    """frontier(node) → co-entities: join out on node_col, back on via_col.

    For an actor frontier: actor → titles (via) → co-actors (J5,
    ``master.erl:273-283``). While the frontier is bounded (true for
    level ≤ 4 queries on real-degree graphs) BOTH joins broadcast the
    frontier-derived side (frontier, then frontier×degree), so the big
    edge table is only ever scanned — never shuffled. The caller guards
    each hint with a size estimate (frontier count × average degree, both
    already materialized); above the threshold the hint is dropped and
    AQE picks the join strategy from runtime stats.

    No ``distinct`` here: the caller's per-destination aggregation dedups,
    one exchange instead of two.
    """
    # Fresh column names per side before joining: the frontier shares
    # lineage with the edge table after round 1, and attribute-reference
    # joins would be ambiguous self-joins.
    f = frontier.select(F.col("node").alias("src"))
    if broadcast_frontier:
        f = F.broadcast(f)
    e1 = edges.select(F.col(node_col).alias("_n1"), F.col(via_col).alias("_via"))
    hop1 = f.join(e1, F.col("src") == F.col("_n1"), "inner").select("src", "_via")
    if broadcast_hop1:
        hop1 = F.broadcast(hop1)
    # The return hop scans ``edges_inverted`` when provided — a layout of
    # the SAME relation bucketed/sorted on via_col, so a shuffle-free
    # sort-merge join is available even when the frontier outgrows
    # broadcasting (Project-with-alias preserves the scan's partitioning).
    e2_src = edges_inverted if edges_inverted is not None else edges
    e2 = e2_src.select(F.col(via_col).alias("_v2"), F.col(node_col).alias("dst"))
    return (
        hop1.join(e2, F.col("_via") == F.col("_v2"), "inner")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def bipartite_bfs(
    edges: DataFrame,
    node_col: str,
    via_col: str,
    root: str,
    level: int = 2,
    checkpoint: bool = True,
    max_broadcast_rows: int = 1_000_000,
    edges_inverted: DataFrame | None = None,
    max_vertices: int | None = None,
    degree: float | None = None,
) -> BfsResult:
    """Generic k-level same-type expansion over any bipartite edge table
    (G1+G2, J4, J5, A4). ``node_col`` is the queried entity type, ``via_col``
    the intermediate hop. Works for movie↔actor, order↔part, user↔document —
    any two-column relation.

    Broadcast guard: each round knows the frontier's exact row count (the
    checkpoint materializes it) and estimates the first hop as
    frontier × average degree (``degree``, else :func:`avg_degree` run once,
    lazily, when a frontier outgrows the trivial case). A side is broadcast
    only while its estimate stays under ``max_broadcast_rows``; past that
    the hint is dropped and AQE chooses from runtime sizes, so the
    operator is safe at any level, not just the GUI's 1..4.

    ``edges_inverted``: optional second layout of the SAME relation used
    for the return hop — pass a catalog table bucketed on ``via_col``
    (with ``edges`` bucketed on ``node_col``) and no round ever shuffles
    the big table, broadcast or not.

    ``max_vertices`` budget semantics: the EXACT post-round vertex check
    is authoritative, but a round may also be refused BEFORE its
    expansion join from an avg-degree work estimate
    (frontier × deg² here; ``BFS_WORK_SLACK``-slackened). The estimate
    over-counts unique new vertices by the duplicate-parent factor, so on
    dup-heavy or skew-light frontiers a traversal that WOULD have
    finished within budget can be refused pre-join — such refusals carry
    ``BfsBudgetExceeded.estimated=True`` so budget-tuned callers can
    distinguish them from exact violations (``estimated=False``) and
    retry with a higher budget if the fail-fast was too conservative.
    """
    spark = edges.sparkSession
    # lazy: the degree job runs only if a round needs the degree
    deg_of = cache(lambda: avg_degree(edges, node_col) if degree is None else degree)

    # level k = k-1 expansion rounds (master.erl:259,271). Aggregate-
    # before-anti-join rationale lives in _bfs_rounds (shared machinery).
    def expand(frontier: DataFrame, frontier_rows: int):
        deg = deg_of() if (frontier_rows > 1 or max_vertices) else None
        hop1_estimate = frontier_rows * (deg if deg else 1.0)
        pairs = _two_hop(
            frontier,
            edges,
            node_col,
            via_col,
            broadcast_frontier=frontier_rows <= max_broadcast_rows,
            broadcast_hop1=hop1_estimate <= max_broadcast_rows,
            edges_inverted=edges_inverted,
        )
        # candidate rows ≈ frontier × degree² (two hops) — the pre-join
        # work estimate for the budget guard
        est = hop1_estimate * deg if deg else None
        return pairs, est

    return _bfs_rounds(
        spark,
        root,
        level,
        checkpoint,
        max_broadcast_rows,
        max_vertices,
        expand,
        node_type=node_col,
    )


def unipartite_bfs(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    root: str,
    level: int = 2,
    checkpoint: bool = True,
    max_broadcast_rows: int = 1_000_000,
    max_vertices: int | None = None,
    node_type: str = "node",
) -> BfsResult:
    """The same k-level BFS semantics as :func:`bipartite_bfs` (global
    visited set, deterministic MIN-parent attachment, level k = k−1
    rounds) over an already-PROJECTED unipartite edge list — the read
    path for the silver co-purchase edge table
    (``sources/silver.copurchase_edges``), where the two-hop via-join has
    been amortized into storage and each round is a single
    frontier⋈edges hop.

    Equivalence to the bipartite form: with ``edges`` = the via-projected
    graph (src—dst iff they share a via, src ≠ dst), round adjacency,
    the dst-grouped min(src) attachment, and the visited anti-join are
    identical relation-for-relation, so the result graph matches the
    two-hop operator row-for-row (pinned by tests/test_silver.py).

    Scale posture per round: the frontier broadcasts while its EXACT row
    count (the checkpoint materializes it) stays under
    ``max_broadcast_rows``; with the edge table bucketed on ``src_col``
    the big side is never shuffled in any regime. Aggregate-before-
    anti-join ordering as in :func:`bipartite_bfs` via the shared
    :func:`_bfs_rounds` machinery, which also brings the ``max_vertices``
    budget (pre-join estimate + exact post-round check) to this path.
    As on :func:`bipartite_bfs`, the pre-join frontier × avg-degree
    estimate over-counts unique vertices on dup-heavy frontiers, so a
    within-budget traversal can be refused early with
    ``BfsBudgetExceeded.estimated=True`` — the exact post-round check
    (``estimated=False``) remains authoritative."""
    spark = edges.sparkSession
    deg_of = cache(lambda: avg_degree(edges, src_col))

    def expand(frontier: DataFrame, frontier_rows: int):
        f = frontier.select(F.col("node").alias("src"))
        if frontier_rows <= max_broadcast_rows:
            f = F.broadcast(f)
        e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("dst"))
        pairs = (
            f.join(e, F.col("src") == F.col("_s"), "inner")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
        )
        est = frontier_rows * deg_of() if max_vertices else None
        return pairs, est

    return _bfs_rounds(
        spark,
        root,
        level,
        checkpoint,
        max_broadcast_rows,
        max_vertices,
        expand,
        node_type=node_type,
    )


def costar_bfs(
    cast_edges: DataFrame,
    name: str,
    node_type: str = ACTOR,
    level: int = 2,
    checkpoint: bool = True,
    max_broadcast_rows: int = 1_000_000,
    max_vertices: int | None = None,
    degree: float | None = None,
    adjacency: Adjacency | None = None,
) -> BfsResult:
    """k-level co-star / shared-cast-movie graph — the reference's flagship
    query (``master.erl:251-288``). ``cast_edges`` is the silver
    ``(tconst, title, actor)`` table; both query directions run against it —
    no inverted copy needed. ``degree``: a kept :func:`avg_degree`.
    ``adjacency``: an :class:`Adjacency` of ``cast_edges``; when given, the
    rounds run as point lookups on it (:func:`_lookup_rounds`) and the
    edges come back as a sorted list — for a reply the ``max_vertices``
    budget bounds.
    """
    if not name:
        # API-level input validation (F8, /root/reference/src/client/client.erl:139-140)
        raise ValueError("search name must be non-empty")
    if node_type not in COSTAR_COLS:
        raise ValueError(f"node_type must be '{MOVIE}' or '{ACTOR}'")
    if not 1 <= level <= 10:
        raise ValueError("level must be in 1..10 (reference GUI offers 1..4)")

    node_col, via_col = COSTAR_COLS[node_type]
    if adjacency is not None:
        if adjacency.edges is not cast_edges:
            raise ValueError("adjacency must index cast_edges")
        edges = _lookup_rounds(
            adjacency, name, node_col, via_col, level, max_vertices, degree
        )
        return BfsResult(root=name, node_type=node_type, edges=edges, vertices=None)
    res = bipartite_bfs(
        cast_edges,
        node_col,
        via_col,
        name,
        level,
        checkpoint,
        max_broadcast_rows,
        max_vertices=max_vertices,
        degree=degree,
    )
    return replace(res, node_type=node_type)
