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

Co-star replies (:func:`costar_bfs`, behind ``ImdbEngine.request`` and
``ImdbEngine.to_dot``) are budgeted point lookups. As the reference
answers from its two in-RAM inverted indexes (``server.erl:111-152``),
each round runs as two lookups — frontier → vias, then vias →
co-entities — and min-parent attachment, the visited set and both
budget checks run on the driver, over sets the budget bounds. The
lookups read an :class:`Adjacency`: the two inverted indexes (actor →
titles, title → actors; the reference's ``actors_db`` and
``titles_db``), shared by both query directions.

When both directions of the edge table hold at most
:data:`ADJACENCY_MAX_VALUES` values (two per edge), the index is filled
in full, as the reference loads every row before it serves: one collect
of the edge table, after which a key the index does not hold is a key
without rows, and no lookup runs a job. Past that bound it is read
through: keys it holds are answered from memory; the missing ones go to
Spark as one filtered collect on the cached edge table, and each
fetched key is kept with its distinct values, a key without rows as
empty. A key another thread is fetching is waited for, not fetched
twice. It then holds at most :data:`ADJACENCY_MAX_VALUES` values,
evicting least-recently-used keys. Either way it stays exact because
the edge table is never changed after the engine is built
(``ImdbEngine.unpersist`` clears it). So a repeated
request, or one whose root an earlier round already expanded, runs no
job, and a cached reply or refusal equals a cold one. A read-through
round is at most two jobs with no join, shuffle, broadcast, ``count`` or
checkpoint; a round refused on the work estimate runs none. Each key set
enters the plan as ONE literal: a JSON array that ``from_json`` parses and
Catalyst folds into an array constant, tested with ``array_contains``. It
costs a few ms to build at any size. ``Column.isin(keys)`` turns every key
into its own py4j literal, 0.6–1.4 ms per name on a 4-core host (0.3–0.8 s
for 500 names), so the large frontiers of refused requests would pay more
for the literal than for the round. JSON escapes every character,
so no name (commas, quotes, backslashes, NUL, non-BMP) can split a key.

Projected graphs (:func:`unipartite_bfs`, the silver co-purchase read
path) run the same semantics as distributed rounds: a driver-side loop
over DataFrame joins (the design GraphFrames uses). Each round is one
``frontier ⋈ edges`` hop (the two-hop via-join is amortized into the
stored projection; the frontier broadcasts while small), then a
``left_anti`` against visited. Rounds ``localCheckpoint()`` to truncate
the growing lineage — without it the plan doubles per iteration. With
the edge table bucketed on its src column the big side is never
re-shuffled. Seeds are JVM ``range`` leaves (:func:`one_row`): a
local-rows ``createDataFrame`` is a Python RDD whose every scan starts
Python-worker tasks (~250 ms each on 4 cores).
"""

from __future__ import annotations

import json
import threading
import time
from collections import OrderedDict
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


def degree_stats(edges: DataFrame, node_cols) -> tuple[int, dict[str, float]]:
    """The edge count and, per column of ``node_cols``, the edges per
    distinct value (HyperLogLog estimate). One aggregate, no shuffle of
    the edge table: the count and every sketch fold map-side (adaptive
    execution runs it as two jobs, the partial map stage and the
    result)."""
    stats = edges.agg(
        F.count(F.lit(1)), *(F.approx_count_distinct(c) for c in node_cols)
    ).collect()[0]
    n = stats[0]
    return n, {c: n / max(1, stats[i]) for i, c in enumerate(node_cols, 1)}


def avg_degree(edges: DataFrame, node_col: str) -> float:
    """Edges per distinct ``node_col`` (HyperLogLog estimate), by
    :func:`degree_stats`."""
    return degree_stats(edges, [node_col])[1][node_col]


# Fail-fast slack: a round is refused BEFORE its expansion (join or
# lookups) runs when the ESTIMATED candidate-row count exceeds max_vertices × this
# factor (candidates over-count unique new vertices by the duplicate-parent
# factor, so the work bound is deliberately looser than the exact post-round
# vertex check, which remains). r06 review: the post-round-only check let a
# single hub round do ALL the unbounded work before raising.
BFS_WORK_SLACK = 16


def unipartite_bfs(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    root: str | int,
    level: int = 2,
    checkpoint: bool = True,
    max_broadcast_rows: int = 1_000_000,
    max_vertices: int | None = None,
) -> DataFrame:
    """:func:`costar_bfs`'s k-level semantics (global visited set,
    deterministic MIN-parent attachment, level k = k−1 rounds) as
    distributed rounds over an already-PROJECTED unipartite edge list —
    the read path for the silver co-purchase edge table
    (``sources/silver.copurchase_edges``), where the two-hop via-join has
    been amortized into storage and each round is a single
    frontier⋈edges hop. Returns the ``(src, dst, level)`` edges.

    With ``edges`` = the via-projected graph (src—dst iff they share a
    via, src ≠ dst), the result is the two-hop BFS's row for row (pinned
    by tests/test_silver.py and tests/test_graph.py).

    Broadcast guard: the frontier and the visited set each broadcast
    while their EXACT row counts (the checkpoint materializes them) stay
    under ``max_broadcast_rows``; past that the hint is dropped and AQE
    picks the join from runtime sizes, so the operator is safe at any
    level. With the edge table bucketed on ``src_col`` the big side is
    never shuffled in any regime.

    ``max_vertices`` budget: the EXACT post-round vertex check is
    authoritative (``BfsBudgetExceeded.estimated=False``), but a round is
    also refused BEFORE its join when frontier × :func:`avg_degree`
    exceeds ``max_vertices`` × ``BFS_WORK_SLACK``. The estimate
    over-counts unique vertices on dup-heavy frontiers, so a traversal
    that would have fit can be refused early, with ``estimated=True``.
    """
    spark = edges.sparkSession
    # lazy: the degree job runs only if a budgeted round needs it
    deg_of = cache(lambda: avg_degree(edges, src_col))
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
        if max_vertices is not None:
            est = frontier_rows * deg_of()
            if est > max_vertices * BFS_WORK_SLACK:
                raise BfsBudgetExceeded(int(est), max_vertices, lvl, estimated=True)
        f = frontier.select(F.col("node").alias("src"))
        if frontier_rows <= max_broadcast_rows:
            f = F.broadcast(f)
        e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("dst"))
        pairs = (
            f.join(e, F.col("src") == F.col("_s"), "inner")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
        )
        anti = visited
        if visited_rows <= max_broadcast_rows:
            anti = F.broadcast(anti)
        # min-parent dedup BEFORE the visited anti-join: the ordering that
        # keeps Catalyst from pushing the anti-join into a full-table exchange
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
        frontier = children.select(F.col("dst").alias("node"))
        visited = visited.unionByName(frontier)
        visited_rows += frontier_rows
        if max_vertices is not None and visited_rows > max_vertices:
            raise BfsBudgetExceeded(visited_rows, max_vertices, lvl)

    if not rounds:  # level 1, or a root without neighbours: no edges
        cols = (root_lit.alias("src"), root_lit.alias("dst"), F.lit(0).alias("level"))
        rounds.append(one_row(spark, *cols).limit(0))
    return reduce(DataFrame.unionByName, rounds)


def _lookup(edges: DataFrame, key_col: str, keys, val_col: str) -> list:
    """``(key, val)`` rows of ``edges`` whose ``key_col`` is in ``keys``:
    one filtered scan, one job. The key set is one JSON-array literal."""
    key_set = F.from_json(F.lit(json.dumps(list(keys))), "array<string>")
    hits = edges.filter(F.array_contains(key_set, F.col(key_col)))
    return hits.select(key_col, val_col).collect()


# The most values an Adjacency holds (an empty key counts as one), and
# the largest graph it is filled with in full (both directions' values):
# ImdbEngine.REQUEST_MAX_VERTICES × BFS_WORK_SLACK, what one budgeted
# hop-2 collect may already hold on the driver.
ADJACENCY_MAX_VALUES = 100_000 * BFS_WORK_SLACK
# The longest a lookup waits for another thread's fetch of a key it
# misses before fetching the key itself; a lookup job takes well under a
# second on a 4-core host.
ADJACENCY_WAIT_S = 10.0


class Adjacency:
    """The two inverted indexes of ``edges`` (a ``(tconst, title,
    actor)`` table), keyed by (key column, value column, key); see the
    module docstring. :meth:`fill` loads a graph within
    :data:`ADJACENCY_MAX_VALUES` in full and marks the index complete: a
    complete index answers a key it does not hold as empty, runs no job,
    stores nothing new and never evicts. Otherwise it is a bounded
    read-through cache. One lock guards the dict operations only: it is
    never held across a Spark job, so a miss, or a fill, does not block
    hits. A key being fetched carries an in-flight marker, and a second
    thread that misses it waits for that fetch (at most
    :data:`ADJACENCY_WAIT_S`) instead of running its own; if the fetch
    raises or the wait runs out, the waiter fetches the key itself."""

    def __init__(self, edges: DataFrame) -> None:
        self.edges = edges
        self._lists: dict[tuple, tuple] = OrderedDict()
        self._size = 0
        self._complete = False
        self._lock = threading.Lock()
        self._inflight: dict[tuple, threading.Event] = {}

    def fill(self, n_edges: int) -> None:
        """Load both directions in full from one collect of ``edges``,
        which has ``n_edges`` rows, and mark the index complete, if their
        ``2 × n_edges`` values fit :data:`ADJACENCY_MAX_VALUES`; each key
        keeps its distinct values."""
        if 2 * n_edges > ADJACENCY_MAX_VALUES:
            return
        actor, title = COSTAR_COLS[ACTOR]
        lists: dict[tuple, dict] = {}
        for a, t in self.edges.select(actor, title).collect():
            # as in _lookup, whose filter no null key passes
            if a is not None:
                lists.setdefault((actor, title, a), {})[t] = None
            if t is not None:
                lists.setdefault((title, actor, t), {})[a] = None
        held = {k: tuple(vals) for k, vals in lists.items()}
        with self._lock:
            self._lists, self._complete = held, True
            self._size = sum(map(len, held.values()))

    def lookup(self, key_col: str, keys, val_col: str) -> list[tuple]:
        """``(key, val)`` pairs of ``keys``, each val once per key. Only
        the keys neither held nor in flight run a job: one :func:`_lookup`
        for all of them; a complete index runs none."""
        keys = list(keys)
        lists: dict = {}
        mine: list = []
        theirs: dict = {}
        with self._lock:
            held = self._lists if self._complete else None
            for k in dict.fromkeys(keys) if held is None else ():
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
        if held is not None:
            return [(k, v) for k in keys for v in held.get((key_col, val_col, k), ())]
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
        """One :func:`_lookup` for ``keys``, kept (unless a fill completed
        the index meanwhile) and returned as key → vals. With ``claimed``
        the keys' in-flight markers are this call's: they are released
        once the values are kept, or when the job raises."""
        try:
            fetched: dict = {k: {} for k in keys}
            for k, v in _lookup(self.edges, key_col, keys, val_col):
                fetched[k][v] = None
            out = {k: tuple(vals) for k, vals in fetched.items()}
            with self._lock:
                if not self._complete:
                    for k, vals in out.items():
                        self._put((key_col, val_col, k), vals)
                    while self._size > ADJACENCY_MAX_VALUES:
                        self._size -= max(1, len(self._lists.popitem(last=False)[1]))
            return out
        finally:
            if claimed:
                with self._lock:
                    for k in keys:
                        self._inflight.pop((key_col, val_col, k)).set()

    def _put(self, key: tuple, vals: tuple) -> None:
        old = self._lists.pop(key, None)
        if old is not None:  # a waiter that gave up fetched it too
            self._size -= max(1, len(old))
        self._lists[key] = vals
        self._size += max(1, len(vals))

    @property
    def size(self) -> int:
        """The values held, an empty key counting as one."""
        return self._size

    def clear(self) -> None:
        with self._lock:
            self._lists = OrderedDict()
            self._size = 0
            self._complete = False


def costar_bfs(
    adjacency: Adjacency,
    name: str,
    node_type: str = ACTOR,
    level: int = 2,
    max_vertices: int | None = None,
    degree: float | None = None,
) -> list[tuple]:
    """k-level co-star / shared-cast-movie graph — the reference's flagship
    query (``master.erl:251-288``) — as driver-side point lookups on
    ``adjacency``, an :class:`Adjacency` of the silver
    ``(tconst, title, actor)`` table; both query directions read it.
    Returns the (level, src, dst)-sorted ``(src, dst, level)`` edges.
    ``degree``: a kept :func:`avg_degree` of the query direction.

    ``max_vertices`` budget (``None``: unbounded): the EXACT post-round
    vertex check is authoritative (``BfsBudgetExceeded.estimated=False``),
    but a round is also refused BEFORE its lookups when frontier × degree²
    exceeds ``max_vertices`` × ``BFS_WORK_SLACK``. The estimate over-counts
    unique new vertices by the duplicate-parent factor, so a traversal
    that would have fit can be refused early, with ``estimated=True``.
    Each lookup is bounded by the previous round's checks: hop 1 returns
    the edges of ≤ ``max_vertices`` frontier keys, hop 2 one round's
    candidate edges (~frontier × degree², which the work estimate caps at
    ``BFS_WORK_SLACK`` × budget on average).
    """
    if not name:
        # API-level input validation (F8, the reference client.erl:139-140)
        raise ValueError("search name must be non-empty")
    if node_type not in COSTAR_COLS:
        raise ValueError(f"node_type must be '{MOVIE}' or '{ACTOR}'")
    if not 1 <= level <= 10:
        raise ValueError("level must be in 1..10 (reference GUI offers 1..4)")
    if max_vertices is not None and max_vertices < 1:
        raise ValueError("max_vertices must be positive")

    node_col, via_col = COSTAR_COLS[node_type]
    deg_of = cache(
        lambda: avg_degree(adjacency.edges, node_col) if degree is None else degree
    )
    visited = {name}
    frontier = [name]
    out: list[tuple] = []
    for lvl in range(1, level):
        if max_vertices is not None:
            # candidate rows ≈ frontier × degree² (two hops)
            deg = deg_of()
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
