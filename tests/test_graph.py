"""BFS + DOT export semantics (SURVEY.md §3.1, §2.9): two-hop levels,
global visited set, tree output, deterministic min-parent, k−1 rounds —
for the co-star point lookups (``costar_bfs``) and the distributed rounds
over a projected graph (``unipartite_bfs``)."""

from __future__ import annotations

import re
import shutil

import pytest
from pyspark.sql import functions as F

from imdb_mapreduce_spark.operators.graph import (
    Adjacency,
    BfsBudgetExceeded,
    costar_bfs,
    unipartite_bfs,
)
from imdb_mapreduce_spark.operators.graph_export import (
    render_png,
    sorted_vertices,
    to_dot,
    write_dot,
)
from tests.conftest import two_hop_bfs


def _costar(cast_edges, *args, **kwargs) -> list[tuple]:
    return costar_bfs(Adjacency(cast_edges), *args, **kwargs)


def _edges(df) -> set[tuple]:
    return {(r["src"], r["dst"], r["level"]) for r in df.collect()}


def _project(edges, node_col: str = "node", via_col: str = "via"):
    """The co-entity projection of a bipartite relation: src—dst iff they
    share a via, src ≠ dst."""
    a = edges.select(F.col(node_col).alias("src"), F.col(via_col).alias("_v1"))
    b = edges.select(F.col(via_col).alias("_v2"), F.col(node_col).alias("dst"))
    return (
        a.join(b, F.col("_v1") == F.col("_v2"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def test_level1_is_root_only(cast_edges):
    # level k = k−1 expansion rounds → level 1 = no expansion (master.erl:259,271)
    edges = _costar(cast_edges, "Jane Doe", "actor", level=1)
    assert edges == []
    assert sorted_vertices("Jane Doe", "actor", edges) == ["Jane Doe"]


def test_level2_costars(cast_edges):
    # Jane Doe's co-stars: John Q. Smith 0 (via Alpha), Bob O'Hara (via Beta)
    assert set(_costar(cast_edges, "Jane Doe", "actor", level=2)) == {
        ("Jane Doe", "John Q. Smith 0", 1),
        ("Jane Doe", "Bob O'Hara", 1),
    }


def test_level3_visited_set_global(cast_edges):
    # Round 2 expands John Q. Smith 0 and Bob O'Hara; all their co-stars
    # (Jane Doe, each other?) — John's co-stars = Jane (visited); Bob's =
    # Jane (visited). No new vertices → tree stops. The intermediate-hop
    # movies never appear as vertices.
    edges = _costar(cast_edges, "Jane Doe", "actor", level=3)
    assert set(edges) == {
        ("Jane Doe", "John Q. Smith 0", 1),
        ("Jane Doe", "Bob O'Hara", 1),
    }
    assert set(sorted_vertices("Jane Doe", "actor", edges)) == {
        "Jane Doe", "John Q. Smith 0", "Bob O'Hara"
    }


def test_movie_query_direction(cast_edges):
    # Movies sharing cast with Alpha Zero 0: Beta! (Jane), Epsilon (John)
    assert set(_costar(cast_edges, "Alpha Zero 0", "movie", level=2)) == {
        ("Alpha Zero 0", "Beta!", 1),
        ("Alpha Zero 0", "Epsilon", 1),
    }


def test_min_parent_deterministic(spark):
    # Diamond: root R and X both reach C in round 2; C discovered once,
    # attached to min(parent). Bipartite edges: (node, via).
    edges = spark.createDataFrame(
        [("R", 1), ("A", 1), ("B", 1), ("A", 2), ("C", 2), ("B", 3), ("C", 3)],
        ["node", "via"],
    )
    got = _edges(unipartite_bfs(_project(edges), "src", "dst", "R", level=3))
    # Round 1: A,B from R. Round 2: C via A (min) not via B.
    assert got == {("R", "A", 1), ("R", "B", 1), ("A", "C", 2)}


def test_input_validation(cast_edges):
    adjacency = Adjacency(cast_edges)
    with pytest.raises(ValueError):
        costar_bfs(adjacency, "", "actor", 2)
    with pytest.raises(ValueError):
        costar_bfs(adjacency, "x", "robot", 2)
    with pytest.raises(ValueError):
        costar_bfs(adjacency, "x", "actor", 0)
    for budget in (0, -1):
        for level in (1, 2):
            with pytest.raises(ValueError, match="max_vertices must be positive"):
                costar_bfs(adjacency, "Jane Doe", "actor", level, max_vertices=budget)


def test_dot_export(cast_edges, tmp_path):
    edges = _costar(cast_edges, "Jane Doe", "actor", level=2)
    dot = to_dot("Jane Doe", "actor", edges)
    assert dot.startswith("digraph G {")
    assert '  label="Jane Doe (level graph)";' in dot
    # ids are the quoted names: the digit 0 kept (reference bug graph.erl:30)
    assert '  "Jane Doe";' in dot and '  "John Q. Smith 0";' in dot
    # surname order (last space-token, X6): "John Q. Smith 0" keys on "0",
    # which sorts before "O'Hara" — so John's edge precedes Bob's.
    assert dot.index('"Jane Doe" -> "John Q. Smith 0"') < dot.index(
        '"Jane Doe" -> "Bob O\'Hara"'
    )
    # the file sink writes exactly that text
    path = str(tmp_path / "reply.dot")
    assert write_dot("Jane Doe", "actor", edges, path) == path
    with open(path, encoding="utf-8") as f:
        assert f.read() == dot


def test_result_independent_of_partitioning(spark):
    # Property (SURVEY §5.3): same result at different partition counts.
    data = [(f"n{i%7}", i % 11) for i in range(200)]
    projected = _project(spark.createDataFrame(data, ["node", "via"]))
    for parts in (1, 5):
        edges = projected.repartition(parts)
        key = sorted(_edges(unipartite_bfs(edges, "src", "dst", "n0", level=3)))
        if parts == 1:
            first = key
        else:
            assert key == first
    assert first == two_hop_bfs(data, "n0", 3)


def test_deep_bfs_without_broadcast_hints(spark):
    # level >= 5 on a denser synthetic graph, forcing the guarded path:
    # max_broadcast_rows=0 disables every broadcast hint, so the frontier
    # and visited joins go through AQE shuffle planning. The result must
    # be identical to the hinted fast path.
    rows = []
    # 3 "generations" chained by shared movies + some dense co-casts
    for g in range(12):
        for a in range(6):
            rows.append((f"m{g}", f"a{g}_{a}"))   # clique within generation
            rows.append((f"m{g}b", f"a{g}_{a}"))
        rows.append((f"link{g}", f"a{g}_0"))
        rows.append((f"link{g}", f"a{g+1}_0"))    # bridge to next generation
    edges = _project(spark.createDataFrame(rows, ["title", "actor"]), "actor", "title")

    fast = _edges(unipartite_bfs(edges, "src", "dst", "a0_0", level=6))
    slow = _edges(
        unipartite_bfs(edges, "src", "dst", "a0_0", level=6, max_broadcast_rows=0)
    )
    assert fast == slow
    assert len(fast) > 0
    # 5 expansion rounds -> levels 1..5 all reached (bridges chain outward)
    assert {lvl for _, _, lvl in fast} == {1, 2, 3, 4, 5}


def test_png_render_gated(cast_edges, tmp_path):
    edges = _costar(cast_edges, "Alice Alpha", level=2)
    out = str(tmp_path / "g.png")
    if shutil.which("dot") is None:
        with pytest.raises(RuntimeError, match="not found"):
            render_png("Alice Alpha", "actor", edges, out)
    else:
        render_png("Alice Alpha", "actor", edges, out)
        data = open(out, "rb").read()
        assert data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) > 100


def test_broadcast_escape_hatch_switches_plan(spark):
    """VERDICT r04 item 6: the fallback must be OBSERVABLE in the plan, not
    just asserted by code reading. With hints on, the round joins
    broadcast; with hints off, no broadcast join remains in the round plan.
    Catalyst's own auto-broadcast of these tiny inputs is switched off for
    the test. Round 1's frontier is the root literal, which Catalyst folds
    into a scan filter, so the graph is a path: round 2 is non-empty and
    joins a frontier that is a relation."""
    import io
    from contextlib import redirect_stdout

    path = [(f"n{i + d}", i) for i in range(20) for d in (0, 1)]
    edges = _project(spark.createDataFrame(path, ["node", "via"]))

    def plan_of(**kw):
        res = unipartite_bfs(edges, "src", "dst", "n0", level=3, checkpoint=False, **kw)
        buf = io.StringIO()
        with redirect_stdout(buf):
            res.explain("formatted")
        return buf.getvalue()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = plan_of()
        unhinted = plan_of(max_broadcast_rows=0)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert _edges(unipartite_bfs(edges, "src", "dst", "n0", level=3)) == {
        ("n0", "n1", 1), ("n1", "n2", 2)
    }
    assert "BroadcastHashJoin" in hinted
    assert "BroadcastHashJoin" not in unhinted
    # AQE replans at runtime, but the static plan must already be a
    # shuffle-based join: sort-merge or shuffled-hash.
    assert "SortMergeJoin" in unhinted or "ShuffledHashJoin" in unhinted


def test_frontier_outgrows_broadcast_mid_traversal(spark):
    """Drive a traversal whose frontier starts under max_broadcast_rows and
    grows past it: round 1 broadcasts (frontier=1 ≤ 3), later rounds must
    take the guarded path (frontier ≫ 3) — and the answer cannot change."""
    rows = []
    for g in range(6):
        width = 2 ** (g + 1)  # frontier doubles every generation
        for a in range(width):
            rows.append((f"m{g}", f"a{g}_{a}"))
        for a in range(min(width, 4)):
            rows.append((f"bridge{g}", f"a{g}_{a}"))
            rows.append((f"bridge{g}", f"a{g+1}_{a}"))
    edges = _project(spark.createDataFrame(rows, ["title", "actor"]), "actor", "title")

    unguarded = _edges(unipartite_bfs(edges, "src", "dst", "a0_0", level=5))
    guarded = _edges(
        unipartite_bfs(edges, "src", "dst", "a0_0", level=5, max_broadcast_rows=3)
    )
    assert guarded == unguarded
    # sanity: the traversal really does outgrow the threshold
    per_level = {}
    for _, dst, lvl in unguarded:
        per_level[lvl] = per_level.get(lvl, 0) + 1
    assert max(per_level.values()) > 3


def test_bfs_budget_pre_join_estimate_fails_fast(spark):
    """A hub expansion whose ESTIMATED candidate volume exceeds the budget
    x slack must refuse BEFORE executing the round join (r06 review: the
    post-round-only check did all the unbounded work first)."""
    # complete-ish graph: 200 nodes, every node connected to node 0..19
    edges = spark.range(200).selectExpr("id AS src").crossJoin(
        spark.range(20).selectExpr("id AS dst")
    ).filter("src <> dst")
    with pytest.raises(BfsBudgetExceeded) as ei:
        unipartite_bfs(edges, "src", "dst", 0, level=3, max_vertices=2)
    # either guard may fire first depending on degree stats, but the
    # estimated pre-join path must be reachable on this dense graph
    assert ei.value.budget == 2


def _leaf_names(df) -> list[str]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def test_seeds_are_jvm_relations(spark):
    """The relations the distributed graph operators seed (root frontier,
    visited set, empty result, SSSP source) are JVM ``range`` leaves: a
    ``createDataFrame`` seed is a Python RDD (``LogicalRDD``), and every
    scan of it starts Python-worker tasks. ``checkpoint=False`` keeps each
    round a logical plan — a ``localCheckpoint`` is itself an RDD leaf."""
    from imdb_mapreduce_spark.operators.sssp import bounded_sssp

    ring = spark.range(20).selectExpr("id AS src", "(id + 1) % 20 AS dst", "1L AS w")
    level3 = unipartite_bfs(ring, "src", "dst", 0, level=3, checkpoint=False)
    plans = {
        "unipartite": level3,
        "level1": unipartite_bfs(ring, "src", "dst", 0, level=1),
        "sssp": bounded_sssp(ring, 0, rounds=3, checkpoint=False),
    }
    for what, df in plans.items():
        leaves = _leaf_names(df)
        assert leaves, what
        assert not {"LogicalRDD", "ExistingRDD"} & set(leaves), (what, leaves)
    assert _edges(level3) == {(0, 1, 1), (1, 2, 2)}
    assert _edges(plans["level1"]) == set()


def test_level1_request_runs_no_job(spark, cast_edges):
    """A level-1 reply is the root alone: no lookup, no sort job and no
    degree aggregate."""
    from imdb_mapreduce_spark.api import ImdbEngine

    sc = spark.sparkContext
    engine = ImdbEngine(cast_edges)
    sc.setJobGroup("test-level1-request", "level-1 request")
    try:
        reply = engine.request("Jane Doe", "actor", level=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert reply == (["Jane Doe"], [])
    assert len(sc.statusTracker().getJobIdsForGroup("test-level1-request")) == 0


# Names a key literal can mangle: a comma, quotes, a backslash, NUL, a
# non-BMP character, a trailing space; and one BMP character above the
# surrogate range, which UTF-16 order would put after the non-BMP one.
_HAZARD_ACTORS = ["Ann, Jr.", "Bob O'Hara", "Cy \\ Slash", 'Dee "Q" Ray',
                  "Eve\x00Nul", "Fay \U0001F600 Grin", "Gus Trail ", "Hal \uFF21"]
_HAZARD_TITLES = ["Now, Then", "It's", "Back\\slash", '"Quoted"', "Nul\x00l",
                  "Smile \U0001F600", "Trailing ", "Wide \uFF21"]


@pytest.fixture(scope="module")
def hazard_graph(spark):
    """A seeded random (tconst, title, actor) graph with one hub actor,
    namesake titles (one title name on several tconsts) and the hazard
    names above, in shuffled row order, so a first-seen parent is rarely
    the minimum one."""
    import random

    rng = random.Random(20261017)
    actors = _HAZARD_ACTORS + [f"Actor {i:02d}" for i in range(40)]
    titles = _HAZARD_TITLES + [f"Title {i:02d}" for i in range(22)]
    rows = set()
    for tconst, title in enumerate(titles + ["Title 03", "Title 07", "Now, Then"]):
        for actor in rng.sample(actors, rng.randint(2, 6)):
            rows.add((tconst, title, actor))
    for tconst in rng.sample(range(len(titles)), 14):  # the hub actor
        rows.add((tconst, titles[tconst], "Zed Hub"))
    rows = sorted(rows)
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "tconst long, title string, actor string")
    return df.cache()


def test_driver_rounds_match_distributed_rounds(hazard_graph):
    """The point-lookup rounds of ``ImdbEngine.request`` give the same
    edges, and the same refusals (kind, count and level), as a pure-Python
    BFS applying the documented rules to the collected rows, in both
    directions, at levels 1-4, under budgets that answer, trip the exact
    post-round check and trip the pre-join work estimate: each on a cold
    read-through :class:`Adjacency` and on one filled in full, and every
    case again, in a shuffled order and twice over, on ONE shared
    read-through one that earlier cases have filled. Every answer also
    equals the distributed ``unipartite_bfs`` rounds over the co-star
    projection of the same rows."""
    import random

    from imdb_mapreduce_spark.operators.graph import COSTAR_COLS, avg_degree

    def run(fn, **kw):
        try:
            return ("answer", fn(**kw))
        except BfsBudgetExceeded as e:
            return ("refused", e.estimated, str(e))

    roots = {
        "actor": ["Zed Hub", "Ann, Jr.", "Eve\x00Nul", "Fay \U0001F600 Grin"],
        "movie": ["Now, Then", "Smile \U0001F600", "Back\\slash", "Title 03"],
    }
    outcomes = set()
    cases = []
    filled = Adjacency(hazard_graph)
    filled.fill(hazard_graph.count())
    assert filled._complete
    for node_type, names in roots.items():
        node_col, via_col = COSTAR_COLS[node_type]
        pairs = [tuple(r) for r in hazard_graph.select(node_col, via_col).collect()]
        projected = _project(hazard_graph, node_col, via_col).cache()
        degree = avg_degree(hazard_graph, node_col)
        for i, name in enumerate(names):
            levels = [(lvl, 10_000) for lvl in (1, 2, 3, 4)] if i < 2 else []
            levels += [(4, budget) for budget in (3, 20, 30)]
            for level, budget in levels:
                want = run(two_hop_bfs, pairs=pairs, root=name, level=level,
                           max_vertices=budget, degree=degree)
                kw = dict(name=name, node_type=node_type, level=level,
                          max_vertices=budget, degree=degree)
                cases.append((kw, want))
                driver = run(costar_bfs, adjacency=Adjacency(hazard_graph), **kw)
                assert driver == want, kw
                assert run(costar_bfs, adjacency=filled, **kw) == want, kw
                outcomes.add(driver[:2] if driver[0] == "refused" else "answer")
                if driver[0] == "answer":
                    if level > 1:
                        assert driver[1], kw  # every root here has co-entities
                    if budget == 10_000:
                        rounds = unipartite_bfs(projected, "src", "dst", name, level)
                        assert sorted(_edges(rounds)) == sorted(driver[1]), kw
        projected.unpersist()
    assert outcomes == {"answer", ("refused", False), ("refused", True)}
    shared = Adjacency(hazard_graph)
    random.Random(7).shuffle(cases)
    for kw, want in cases + cases:
        assert run(costar_bfs, adjacency=shared, **kw) == want, kw


def test_filled_index_reads_null_names_as_the_lookups_do(spark):
    """A null title or actor (a ``\\N`` name) is a value a key may hold
    but never a key a lookup's filter matches; a filled index answers
    every key, null included, with the pairs a read-through one fetches."""
    rows = [(1, "A", "x"), (1, "A", None), (2, None, "x"), (2, None, "y"), (3, "B", "y")]
    edges = spark.createDataFrame(rows, "tconst long, title string, actor string")
    filled = Adjacency(edges)
    filled.fill(len(rows))
    assert filled._complete
    for key_col, val_col in (("actor", "title"), ("title", "actor")):
        keys = ["x", "y", "A", "B", None, "nobody"]
        want = set(Adjacency(edges).lookup(key_col, keys, val_col))
        assert set(filled.lookup(key_col, keys, val_col)) == want, key_col


def _read_through(engine, monkeypatch):
    """``engine`` after its degree aggregate ran with the fill bound at 0:
    its :class:`Adjacency` reads the graph key by key, as past the bound,
    and keeps the full cache capacity."""
    from imdb_mapreduce_spark.operators import graph

    with monkeypatch.context() as m:
        m.setattr(graph, "ADJACENCY_MAX_VALUES", 0)
        engine._degree("actor")
    assert not engine.adjacency._complete
    return engine


def _jobs_of(sc, group: str, fn, *args, **kwargs):
    """``fn(*args, **kwargs)``'s result, or the exception it raised, and
    the Spark jobs it ran under the job group ``group``."""
    sc.setJobGroup(group, "budgeted request")
    try:
        out = fn(*args, **kwargs)
    except Exception as e:  # noqa: BLE001 — returned to the caller
        out = e
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# Requests in both directions that answer, hit a dead end and are
# refused on the exact check and on the estimate (in round 1 and 2).
_REQUEST_CASES = [
    ("Zed Hub", "actor", 4, 10_000, "answer"),
    ("Ann, Jr.", "actor", 3, 10_000, "answer"),
    ("Nobody", "actor", 3, 10_000, "answer"),
    ("Now, Then", "movie", 4, 10_000, "answer"),
    ("Zed Hub", "actor", 4, 12, "exact"),
    ("Now, Then", "movie", 2, 1, "estimated"),  # in round 1: no job
    ("Now, Then", "movie", 4, 20, "estimated"),  # in round 2
]


def test_request_runs_at_most_two_jobs_per_round(spark, hazard_graph, monkeypatch):
    """Past the fill bound, a level-k request runs at most two jobs per
    round it runs (its two lookups), and the round an estimated refusal
    stops at runs none. The degree aggregate runs once per engine, first,
    and is not counted. Replayed on the same engine, every request,
    refusals included, runs no job and gets the same reply; so does a
    fresh request whose root an earlier round expanded."""
    from imdb_mapreduce_spark.api import ImdbEngine
    from imdb_mapreduce_spark.operators.graph import BfsBudgetExceeded

    sc = spark.sparkContext
    engine = _read_through(ImdbEngine(hazard_graph, cache=False), monkeypatch)
    replies = []
    for i, (name, node_type, level, budget, want) in enumerate(_REQUEST_CASES):
        reply, jobs = _jobs_of(
            sc, f"test-request-jobs-{i}", engine.request,
            name, node_type, level, max_vertices=budget,
        )
        if isinstance(reply, BfsBudgetExceeded):
            # the refused round ran its lookups only if the refusal is exact
            rounds = reply.level - reply.estimated
            kind = "estimated" if reply.estimated else "exact"
            reply = str(reply)
        else:
            edges = reply[1]
            rounds = min(level - 1, max((e[2] for e in edges), default=0) + 1)
            kind = "answer"
        replies.append(reply)
        assert kind == want, (name, node_type, level, budget, kind)
        assert jobs <= 2 * rounds, (name, node_type, level, budget, jobs, rounds)

    for i, (name, node_type, level, budget, _) in enumerate(_REQUEST_CASES):
        reply, jobs = _jobs_of(
            sc, f"test-request-repeat-{i}", engine.request,
            name, node_type, level, max_vertices=budget,
        )
        if isinstance(reply, BfsBudgetExceeded):
            reply = str(reply)
        assert (reply, jobs) == (replies[i], 0), (name, node_type, level, budget)
    # a co-star of the hub was in the hub request's round-2 frontier
    costar = replies[0][1][0][1]
    reply, jobs = _jobs_of(
        sc, "test-request-expanded-root", engine.request, costar, "actor", 2
    )
    assert jobs == 0, costar
    assert reply == ImdbEngine(hazard_graph, cache=False).request(costar, "actor", 2)


def test_filled_engine_runs_no_job_after_its_first_request(
    spark, hazard_graph, monkeypatch
):
    """Within the fill bound, an engine's first level-≥2 request runs the
    degree aggregate and the one collect that fills its Adjacency in
    full, and marks it complete. After it, fresh requests in both
    directions run no job, and every reply and refusal equals a
    read-through engine's. ``unpersist`` empties the index, which is then
    no longer complete."""
    from imdb_mapreduce_spark.api import ImdbEngine
    from imdb_mapreduce_spark.operators.graph import degree_stats

    sc = spark.sparkContext

    def outcome(engine, group, name, node_type, level, budget):
        reply, jobs = _jobs_of(
            sc, group, engine.request, name, node_type, level, max_vertices=budget
        )
        return (str(reply) if isinstance(reply, BfsBudgetExceeded) else reply), jobs

    engine = ImdbEngine(hazard_graph, cache=False)
    reading = _read_through(ImdbEngine(hazard_graph, cache=False), monkeypatch)
    first = ("Title 07", "movie", 2, 10_000)
    got, jobs = outcome(engine, "test-filled-first", *first)
    _, aggregate_jobs = _jobs_of(
        sc, "test-filled-aggregate", degree_stats, hazard_graph, ["actor", "title"]
    )
    assert jobs == aggregate_jobs + 1 and engine.adjacency._complete
    assert 0 < engine.adjacency.size <= 2 * hazard_graph.count()
    assert got == outcome(reading, "test-reading-first", *first)[0]
    for i, (*req, _) in enumerate(_REQUEST_CASES):
        want, _ = outcome(reading, f"test-reading-{i}", *req)
        assert outcome(engine, f"test-filled-{i}", *req) == (want, 0), req
    engine.unpersist()
    assert not engine.adjacency._complete
    assert engine.adjacency.size == 0 and not engine.adjacency._lists


def test_adjacency_stays_within_capacity_and_unpersist_empties_it(
    hazard_graph, monkeypatch
):
    """With the capacity cut to a few dozen values, a session of requests
    keeps the cache within it, evicting as it goes, and every reply and
    refusal still equals a cold one; ``unpersist`` empties the cache."""
    from imdb_mapreduce_spark.api import ImdbEngine
    from imdb_mapreduce_spark.operators import graph

    def outcome(engine, req):
        try:
            return engine.request(*req)
        except graph.BfsBudgetExceeded as e:
            return str(e)

    session = [
        ("Zed Hub", "actor", 3, 10_000),
        ("Now, Then", "movie", 3, 10_000),
        ("Ann, Jr.", "actor", 4, 10_000),
        ("Zed Hub", "actor", 4, 12),
        ("Smile \U0001F600", "movie", 2, 10_000),
        ("Title 03", "movie", 4, 30),
    ]
    session += session[::-1]
    cold = [outcome(ImdbEngine(hazard_graph, cache=False), req) for req in session]

    # what one budgeted hop-2 collect may already hold on the driver
    assert graph.ADJACENCY_MAX_VALUES == (
        ImdbEngine.REQUEST_MAX_VERTICES * graph.BFS_WORK_SLACK
    )
    cap = 40
    monkeypatch.setattr(graph, "ADJACENCY_MAX_VALUES", cap)
    fetched = []
    real_lookup = graph._lookup

    def counted(edges, key_col, keys, val_col):
        rows = real_lookup(edges, key_col, keys, val_col)
        fetched.append(len(rows))
        return rows

    monkeypatch.setattr(graph, "_lookup", counted)
    engine = ImdbEngine(hazard_graph, cache=False)
    for req, want in zip(session, cold, strict=True):
        assert outcome(engine, req) == want, req
        assert engine.adjacency.size <= cap, req
    assert sum(fetched) > 2 * cap  # held at most cap of them: it evicted
    engine.unpersist()
    assert engine.adjacency.size == 0 and not engine.adjacency._lists


def _dot_ids(dot: str) -> tuple[list[str], list[tuple[str, str]]]:
    """The unescaped ids of ``dot``'s vertex declarations and edges."""
    quoted = r'"((?:[^"\\]|\\.)*)"'

    def unescape(s: str) -> str:
        return re.sub(r"\\(.)", r"\1", s, flags=re.S)

    decls, edges = [], []
    for line in dot.split("\n")[2:-1]:
        if m := re.fullmatch(rf"  {quoted};", line, flags=re.S):
            decls.append(unescape(m[1]))
        else:
            m = re.fullmatch(rf"  {quoted} -> {quoted};", line, flags=re.S)
            assert m, line
            edges.append((unescape(m[1]), unescape(m[2])))
    return decls, edges


def test_dot_ids_are_the_names_quoted(hazard_graph, tmp_path):
    """On the hazard names, plus names a character class would merge
    (``Müller``/``Möller``, ``Bob O'Hara``/``Bob O Hara``), the DOT has one
    declaration per vertex, all ids distinct, and every id unescapes back
    to its name; GraphViz renders it when ``dot`` is on PATH."""
    root = "Zed Hub"
    edges = costar_bfs(Adjacency(hazard_graph), root, "actor", 4)
    names = [*_HAZARD_ACTORS, "Müller", "Möller", "Bob O Hara"]
    reached = set(sorted_vertices(root, "actor", edges))
    edges += [(root, name, 1) for name in names if name not in reached]
    vertices = sorted_vertices(root, "actor", edges)
    assert set(names) <= set(vertices)
    dot = to_dot(root, "actor", edges)
    assert dot.split("\n")[1] == '  label="Zed Hub (level graph)";'
    decls, dot_edges = _dot_ids(dot)
    assert len(decls) == len(set(decls)) == len(vertices)
    assert set(decls) == set(vertices)
    assert sorted(dot_edges) == sorted((src, dst) for src, dst, _ in edges)
    if shutil.which("dot") is not None:
        clean = [e for e in edges if "\x00" not in e[0] + e[1]]
        out = render_png(root, "actor", clean, str(tmp_path / "hazard.png"))
        assert open(out, "rb").read(8) == b"\x89PNG\r\n\x1a\n"


def test_to_dot_draws_the_request_reply(spark, hazard_graph, monkeypatch):
    """``ImdbEngine.to_dot`` is the DOT of ``request``'s reply: after a
    request for the same name, type and level it runs no job and equals
    the DOT assembled from that reply; cold and past the fill bound, it
    runs at most two jobs per round; over the engine's request budget it
    raises as ``request`` does."""
    from imdb_mapreduce_spark.api import ImdbEngine
    from imdb_mapreduce_spark.operators import graph_export

    sc = spark.sparkContext
    cases = [("Zed Hub", "actor", 4), ("Now, Then", "movie", 3), ("Ann, Jr.", "actor", 2)]
    cold, warm = (
        _read_through(ImdbEngine(hazard_graph, cache=False), monkeypatch)
        for _ in range(2)
    )
    for i, (name, node_type, level) in enumerate(cases):
        dot, jobs = _jobs_of(sc, f"test-to-dot-cold-{i}", cold.to_dot, name, node_type, level)
        assert jobs <= 2 * (level - 1), (name, jobs)
        _, edges = warm.request(name, node_type, level)
        want = graph_export.to_dot(name, node_type, edges)
        got, jobs = _jobs_of(sc, f"test-to-dot-warm-{i}", warm.to_dot, name, node_type, level)
        assert (got, jobs) == (want, 0), name
        assert dot == want, name

    warm.REQUEST_MAX_VERTICES = 12
    with pytest.raises(BfsBudgetExceeded) as over:
        warm.to_dot("Zed Hub", "actor", 4)
    with pytest.raises(BfsBudgetExceeded) as refused:
        warm.request("Zed Hub", "actor", 4, max_vertices=12)
    assert str(over.value) == str(refused.value)


# Names whose display order is easy to get wrong: non-ASCII against ASCII
# ('é' U+00E9 sorts after 'z'), a trailing space (surname ""), a shared
# surname, punctuation and the digit 0, a one-word name.
_ORDER_CAST = {
    "Hub": ["Ann Root", "Léa Étoile", "Zoe Zulu", "Eve zed", "Eve élan",
            "Kim Lee ", "Tom Hanks", "Colin Hanks", "Bob O'Hara",
            "John Q. Smith 0", "Mononym"],
    "Épée": ["Léa Étoile"],
    "epee": ["Eve élan"],
    "Zorro": ["Zoe Zulu"],
    "Movie 0": ["John Q. Smith 0"],
    "Trailing ": ["Kim Lee "],
    "O'Brien's Day": ["Bob O'Hara"],
    "Sequel": ["Tom Hanks", "Rita Ray"],
    "Far": ["Rita Ray", "Al Far"],
}


def test_request_order_matches_spark_sort(spark):
    """``ImdbEngine.request`` orders on the driver; the result must equal
    the Spark sort it replaced — vertices by ``orderBy(element_at(split(
    name, " "), -1), name)`` (actors) or by name (movies), edges by
    (level, src, dst) — for both query directions, level 1, and a root
    that is not in the graph. The Spark side sorts a DataFrame of the
    reply's own names and edges, shuffled."""
    import random

    from imdb_mapreduce_spark.api import ImdbEngine

    rows = [
        (i, title, actor)
        for i, (title, cast) in enumerate(_ORDER_CAST.items())
        for actor in cast
    ]
    engine = ImdbEngine(spark.createDataFrame(rows, "tconst long, title string, actor string"))
    surname = F.element_at(F.split(F.col("name"), " "), -1)
    try:
        for name, kind, level in [
            ("Ann Root", "actor", 3),
            ("Ann Root", "actor", 1),
            ("Nobody Here", "actor", 2),
            ("Hub", "movie", 3),
            ("Hub", "movie", 1),
            ("Nowhere", "movie", 2),
        ]:
            got = engine.request(name, kind, level)
            names = sorted({name, *(v for e in got[1] for v in e[:2])}, reverse=True)
            edges = random.Random(len(names)).sample(got[1], len(got[1]))
            vdf = spark.createDataFrame([(n,) for n in names], "name string")
            edf = spark.createDataFrame(edges, "src string, dst string, level int")
            key = surname if kind == "actor" else F.col("name")
            spark_v = [r[0] for r in vdf.orderBy(key, F.col("name")).collect()]
            spark_e = [tuple(r) for r in edf.orderBy("level", "src", "dst").collect()]
            assert got == (spark_v, spark_e), (name, kind, level)
            if level == 1 or name in ("Nobody Here", "Nowhere"):
                assert got == ([name], [])

        actors, _ = engine.request("Ann Root", "actor", 3)
        assert len(actors) == 12 and actors[0] == "Kim Lee "
        assert actors.index("Eve zed") < actors.index("Eve élan")
        assert actors.index("Colin Hanks") + 1 == actors.index("Tom Hanks")
        movies, _ = engine.request("Hub", "movie", 3)
        assert set(movies) == set(_ORDER_CAST)
    finally:
        engine.unpersist()
