"""The benchmark's pure-Python BFS reference agrees with the engine, and
replies are classified the way the engine words them."""

from __future__ import annotations

import costar
import corpus
import instrument


def test_reference_matches_engine_replies(spark, tmp_path):
    from imdb_mapreduce_spark.api import ImdbEngine
    from imdb_mapreduce_spark.operators.graph import BFS_WORK_SLACK, BfsBudgetExceeded

    paths, graph = corpus.write_imdb_tsvs(str(tmp_path / "imdb"), seed=11)
    engine = ImdbEngine.from_tsv(spark, paths["basics"], paths["principals"], paths["names"])
    assert engine.cast_edges.count() == len(graph.edges)
    index = costar.CastIndex(graph.edges)
    requests = [
        (graph.actors_by_popularity[300], "actor", 3, costar.BUDGET),
        (graph.actors_by_popularity[0], "actor", 2, costar.BUDGET),
        (graph.titles_by_popularity[40], "movie", 3, costar.BUDGET),
        (graph.non_actors[0], "actor", 2, costar.BUDGET),
    ]
    for name, node_type, level, budget in requests:
        # degree 0: no pre-join refusal predicted; the engine's own estimate
        # may still refuse a request that does not fit, which classify accepts
        exp = costar.reference_bfs(index, name, node_type, level, budget, 0.0, BFS_WORK_SLACK)
        try:
            vertices, edges = engine.request(name, node_type, level, max_vertices=budget)
            reply = {"vertices": vertices, "edges": [list(e) for e in edges]}
        except BfsBudgetExceeded as e:
            reply = {"error": f"{type(e).__name__}: {e}"}
        verdict = costar.classify((name, node_type, level, budget), reply, exp)
        assert verdict.ok, (name, node_type, level, verdict.detail)


def test_classify_reads_both_refusal_kinds():
    exp_big = costar.Expected("exact", fits=False, exact_refusal=(612, 2))
    req = ("X", "actor", 3, 500)
    exact = {"error": "BfsBudgetExceeded: BFS budget exceeded: 612 vertices reached at level 2 > max_vertices=500; narrow"}
    est = {"error": "BfsBudgetExceeded: BFS budget exceeded: 9000 estimated expansion work at level 2 > max_vertices=500; narrow"}
    assert costar.classify(req, exact, exp_big).ok
    assert costar.classify(req, est, exp_big).ok
    fits = costar.Expected("answer", fits=True, vertices=["X"])
    v = costar.classify(req, est, fits)
    assert not v.ok and v.false_refusal


def test_driver_gap_counts_time_with_no_job_running():
    stats = instrument.JobStats(intervals=[(1.0, 2.0), (1.5, 3.0), (5.0, 6.0)])
    assert abs(stats.driver_gap_s(0.0, 10.0) - 7.0) < 1e-9
    assert abs(stats.driver_gap_s(2.5, 5.5) - 2.0) < 1e-9


def test_quantile_is_the_harrell_davis_estimate():
    xs = list(range(1, 12))
    # symmetric weights: the median of 1..11 is 6, in any input order
    assert abs(instrument.quantile(xs[::-1], 0.5) - 6.0) < 1e-6
    # Beta(9, 3) weights on 1..11: 12 * (9 / 12) - 0.25 ~ 8.75
    assert abs(instrument.quantile(xs, 0.75) - 8.751) < 1e-2
    assert instrument.quantile([5.0, 1.0, 3.0], 0.75) > instrument.quantile([5.0, 1.0, 3.0], 0.5)
    assert instrument.quantile([7.0], 0.75) == 7.0
