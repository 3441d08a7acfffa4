"""PageRank: the driver and distributed rounds vs a pure-Python reference."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from imdb_mapreduce_spark.operators import pagerank as pr

SF = "/root/testdata/sf0.001"


@pytest.fixture
def distributed(monkeypatch):
    """pagerank_exact runs its distributed rounds at any graph size."""
    monkeypatch.setattr(pr, "DRIVER_MAX_EDGES", 0)


def _py_pagerank(edges, iterations=10, damping=0.85):
    out = defaultdict(list)
    nodes = set()
    for s, d in edges:
        out[s].append(d)
        nodes.update((s, d))
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = defaultdict(float)
        for s, targets in out.items():
            share = rank[s] / len(targets)
            for d in targets:
                contrib[d] += share
        rank = {v: base + damping * contrib.get(v, 0.0) for v in nodes}
    return rank


def _exact_vs_python(spark, monkeypatch, edges, iterations):
    """``_py_pagerank`` and both of pagerank_exact's paths on ``edges``;
    each path's ``rank_scaled / 10**15`` must be within 1e-9 of the
    reference (floor-division leakage is ~deg ulps per round at scale
    10^15)."""
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _py_pagerank(edges, iterations=iterations)
    paths = [_ranks(d) for d in _both_paths(df, monkeypatch, iterations=iterations)]
    for got in paths:
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] / 10**15 - want[v]) < 1e-9, (v, got[v], want[v])
    return want, paths


def test_pagerank_matches_python_reference(spark, monkeypatch):
    edges = [
        (1, 2), (2, 1),
        (2, 3), (3, 2),
        (3, 1), (1, 3),
        (4, 1), (1, 4),
        (5, 9),  # directed edge; 9 is a sink for 5's mass
    ]
    _exact_vs_python(spark, monkeypatch, edges, iterations=10)


def test_pagerank_sums_to_one_on_symmetric_graph(spark, monkeypatch):
    # With every node having out-edges (symmetrized graph), total rank is
    # conserved: sum == 1 within the floor-division leakage.
    edges = [(a, b) for a in range(6) for b in range(6) if a != b and (a + b) % 3]
    edges = edges + [(b, a) for a, b in edges]
    _, paths = _exact_vs_python(spark, monkeypatch, edges, iterations=8)
    for got in paths:
        assert abs(sum(got.values()) / 10**15 - 1.0) < 1e-9


def test_pagerank_coparts_query(spark):
    from imdb_mapreduce_spark.plans.graph_queries import pagerank_coparts

    rows = pagerank_coparts(spark, SF).collect()
    assert 0 < len(rows) <= 50
    # descending, deterministic tiebreak
    ranks = [(r["rank"], r["part"]) for r in rows]
    assert ranks == sorted(ranks, key=lambda t: (-t[0], t[1]))
    # hubs rank above the uniform prior; every rank positive
    assert ranks[0][0] > ranks[-1][0] > 0


def test_pagerank_coparts_matches_python_on_real_graph(spark):
    """Full end-to-end check on the sf0.001 co-purchase graph: same edge
    set into the Python reference, same 10 iterations, values within
    float-accumulation tolerance and the top-50 membership agrees."""
    import duckdb

    from imdb_mapreduce_spark.plans.graph_queries import pagerank_coparts

    con = duckdb.connect()
    edges = con.execute(
        f"""
        WITH e AS (SELECT DISTINCT l_orderkey, l_partkey
                   FROM read_parquet('{SF}/lineitem.parquet'))
        SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM e a JOIN e b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        """
    ).fetchall()
    want = _py_pagerank(edges)
    got = {r["part"]: r["rank"] for r in pagerank_coparts(spark, SF).collect()}
    for part, rank in got.items():
        assert abs(rank - want[part]) < 1e-9
    top50 = sorted(want, key=lambda v: (-want[v], v))[:50]
    assert set(got) == set(top50)


def test_pagerank_exact_tracks_float_pagerank(spark, monkeypatch):
    """On both paths the scaled-integer fixed-point iteration agrees with
    the float reference ``_py_pagerank`` to ~1e-9 and preserves its rank
    ordering."""
    edges = [(a, b) for a in range(8) for b in range(8) if a != b and (a + b) % 3]
    edges = edges + [(b, a) for a, b in edges]
    want, paths = _exact_vs_python(spark, monkeypatch, edges, iterations=10)
    # ordering agrees; nodes with the same residue mod 3 are symmetric and
    # tie, exactly in integers but only to the last ulps in floats, so the
    # reference is rounded before its ties break on the node id
    by_python = sorted(want, key=lambda v: (-round(want[v], 12), v))
    for got in paths:
        assert sorted(got, key=lambda v: (-got[v], v)) == by_python


def test_at_scale_branch_matches_default(spark, distributed):
    """The r09 at-scale branch (scan-backed edges, checkpoint every
    round, post-checkpoint GC) is a resource policy, never a semantic
    one: ranks must be bit-identical to the default branch."""
    from imdb_mapreduce_spark.operators.pagerank import pagerank_exact

    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (4, 1), (1, 4)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")

    def ranks(**kw):
        return {
            r["node"]: r["rank_scaled"]
            for r in pagerank_exact(df, iterations=7, **kw).collect()
        }

    default = ranks()
    at_scale = ranks(persist_edges=False, checkpoint_every=1, shuffle_gc=True)
    assert default and at_scale == default


def test_shuffle_gc_survives_missing_jvm_handle(spark, monkeypatch, distributed):
    """`_jvm` is a private Py4J handle absent on Spark Connect sessions
    (VERDICT r09 item 3): with it gone, the at-scale branch must degrade
    to checkpoint-only with a RuntimeWarning — same ranks, no crash."""
    import warnings

    from imdb_mapreduce_spark.operators.pagerank import pagerank_exact

    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    want = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_exact(df, iterations=4).collect()
    }

    # Spark's own execution path still needs `_jvm` in local mode, so the
    # stub fails only the `System` handle the guard reaches for (on a real
    # Connect session the whole attribute is absent; the guard catches
    # both shapes with the same except).
    real_jvm = spark.sparkContext._jvm

    class _NoSystemJvm:
        def __getattr__(self, name):
            if name == "System":
                raise AttributeError(name)
            return getattr(real_jvm, name)

    monkeypatch.setattr(spark.sparkContext, "_jvm", _NoSystemJvm())
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r["node"]: r["rank_scaled"]
            for r in pagerank_exact(
                df,
                iterations=4,
                persist_edges=False,
                checkpoint_every=1,
                shuffle_gc=True,
            ).collect()
        }
    assert got == want
    assert any(
        "JVM GC unavailable" in str(w.message)
        for w in caught
        if issubclass(w.category, RuntimeWarning)
    )


def _ranks(df) -> dict:
    return {r["node"]: r["rank_scaled"] for r in df.collect()}


def _both_paths(df, monkeypatch, **kw):
    """pagerank_exact's (driver, distributed) results on ``df``."""
    driver = pr.pagerank_exact(df, **kw)
    with monkeypatch.context() as m:
        m.setattr(pr, "DRIVER_MAX_EDGES", 0)
        return driver, pr.pagerank_exact(df, **kw)


# a directed graph: 9 is a sink, (1, 2) and (4, 1) are duplicated
DIRECTED = [(1, 2), (1, 2), (2, 1), (2, 3), (3, 1), (4, 1), (4, 1), (5, 9), (1, 4)]


@pytest.mark.parametrize("graph", ["copurchase", "directed"])
@pytest.mark.parametrize("deg", [None, "deg"])
def test_driver_rounds_equal_distributed_rounds(spark, monkeypatch, graph, deg):
    """The driver rounds return the distributed rounds' ranks bit for bit,
    with the same column types, as a JVM ``LocalRelation``."""
    if graph == "copurchase":
        from imdb_mapreduce_spark.sources.silver import copurchase_edges

        df = copurchase_edges(spark, SF).select("src", "dst", "deg")
    else:
        out = Counter(s for s, _ in DIRECTED)
        df = spark.createDataFrame(
            [(s, d, out[s]) for s, d in DIRECTED], "src bigint, dst bigint, deg bigint"
        )
    driver, dist = _both_paths(df, monkeypatch, deg=deg)
    leaves = driver._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert [leaves.apply(i).nodeName() for i in range(leaves.size())] == ["LocalRelation"]
    assert [f.dataType for f in driver.schema] == [f.dataType for f in dist.schema]
    got, want = _ranks(driver), _ranks(dist)
    assert len(got) > 5 and got == want


# graphs whose Spark semantics the driver rounds do not copy: a null
# endpoint is a node that joins drop edges on, and differing endpoint
# types widen to one node type
ODD_GRAPHS = {
    "null endpoint": ([(1, 2), (2, 1), (2, None), (None, 1)], "src bigint, dst bigint"),
    "mixed types": ([(1, 2), (2, 1), (2, 3)], "src int, dst bigint"),
}


@pytest.mark.parametrize("case", list(ODD_GRAPHS))
def test_driver_rounds_leave_odd_graphs_to_spark(spark, monkeypatch, case):
    """Such graphs run the distributed rounds whatever their size."""
    df = spark.createDataFrame(*ODD_GRAPHS[case])
    driver, dist = _both_paths(df, monkeypatch, iterations=3)
    assert driver.schema == dist.schema
    assert _ranks(driver) == _ranks(dist)


# (edges, deg column): the star's sums fit bigint but 85 × the hub's does
# not; with a degree of 1 on every edge, 0's sum of five 2^62 shares wraps
# negative and its sum of nine wraps past 2^64 back to a positive value
OVERFLOWS = {
    "multiply": [(0, v) for v in range(1, 4)] + [(v, 0) for v in range(1, 4)],
    "sum": [(0, 1)] + [(1, 0)] * 5,
    "sum past 2^64": [(0, 1)] + [(1, 0)] * 9,
}


@pytest.mark.parametrize("case", list(OVERFLOWS))
def test_driver_rounds_raise_where_spark_overflows(spark, monkeypatch, case):
    """A bigint overflow raises on both paths, where numpy alone wraps."""
    df = spark.createDataFrame(
        [(s, d, 1) for s, d in OVERFLOWS[case]], "src bigint, dst bigint, deg bigint"
    )
    kw = {"iterations": 1, "scale": 2**63 - 1, "deg": "deg"}
    with pytest.raises(OverflowError):
        pr.pagerank_exact(df, **kw)
    monkeypatch.setattr(pr, "DRIVER_MAX_EDGES", 0)
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        pr.pagerank_exact(df, **kw)


def test_pagerank_coparts_runs_at_most_three_jobs(spark):
    """The sf0.001 co-purchase graph runs on the driver: the query's
    PageRank is one count (two jobs under adaptive execution) and one
    collect, and its top 50 one job more. The distributed rounds ran 41."""
    from imdb_mapreduce_spark.plans.graph_queries import pagerank_coparts
    from imdb_mapreduce_spark.sources.silver import copurchase_edges

    copurchase_edges(spark, SF)  # the silver table exists before counting
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, "pagerank_coparts")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    df, ranked = jobs("test-pagerank-coparts", lambda: pagerank_coparts(spark, SF))
    rows, top = jobs("test-pagerank-coparts-top", df.collect)
    assert ranked <= 3 and top <= 1, (ranked, top)
    assert len(rows) == 50
