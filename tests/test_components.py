"""Connected-components operator: exact clusters on known graphs."""

from __future__ import annotations

import pytest

from imdb_mapreduce_spark.operators import components
from imdb_mapreduce_spark.operators.components import connected_components


def _components(spark, pairs):
    df = spark.createDataFrame(pairs, ["src", "dst"])
    return {
        r["node"]: r["component"]
        for r in connected_components(df, "src", "dst").collect()
    }


@pytest.fixture
def distributed(monkeypatch):
    """A zero driver threshold runs the label-propagation loop — these
    tests verify it, not the small-graph union-find shortcut."""
    monkeypatch.setattr(components, "DRIVER_THRESHOLD", 0)


def test_two_components(spark, distributed):
    got = _components(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_diameter(spark, distributed):
    # long chain exercises multi-round propagation
    got = _components(spark, [(i, i + 1) for i in range(1, 12)])
    assert set(got.values()) == {1}
    assert len(got) == 12


def test_cycle_and_strings(spark, distributed):
    got = _components(spark, [("b", "c"), ("c", "a"), ("a", "b"), ("x", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_label_nonconvergence_warns(spark, distributed, monkeypatch):
    monkeypatch.setattr(components, "MAX_ITER", 3)
    df = spark.createDataFrame([(i, i + 1) for i in range(30)], ["src", "dst"])
    with pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(df, "src", "dst").collect()


def test_driver_union_find_matches_distributed(spark, monkeypatch):
    # the small-graph shortcut (default threshold) must produce exactly
    # the distributed loop's min-label components
    pairs = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (7, 7), (5, 4)]
    fast = _components(spark, pairs)
    monkeypatch.setattr(components, "DRIVER_THRESHOLD", 0)
    assert fast == _components(spark, pairs)


def test_driver_union_find_returns_a_jvm_relation(spark):
    """The small-graph shortcut hands its components back as a JVM
    ``LocalRelation``: a ``createDataFrame`` of Python rows is a Python RDD
    (``LogicalRDD``), and every scan of it starts Python-worker tasks."""
    df = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint")
    got = connected_components(df, "src", "dst")
    leaves = got._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = {leaves.apply(i).nodeName() for i in range(leaves.size())}
    assert names and not {"LogicalRDD", "ExistingRDD"} & names, names
    assert {r["node"]: r["component"] for r in got.collect()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10
    }


def _nx_components(pairs):
    # pure-python reference: min-label components via repeated relaxation
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {n: n for n in adj}
    changed = True
    while changed:
        changed = False
        for n in adj:
            m = min([label[n]] + [label[v] for v in adj[n]])
            if m < label[n]:
                label[n] = m
                changed = True
    # propagate to fixpoint (label chains)
    for n in adj:
        while label[label[n]] != label[n]:
            label[n] = label[label[n]]
    return label


def test_property_all_algorithms_agree_on_random_graphs(spark, monkeypatch):
    from hypothesis import given, settings, strategies as st

    @given(
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 15)),
            min_size=1,
            max_size=40,
        )
    )
    @settings(max_examples=8, deadline=None)
    def check(pairs):
        want = _nx_components(pairs)
        # driver union-find shortcut, then distributed label propagation
        for threshold in (components.DRIVER_THRESHOLD, 0):
            with monkeypatch.context() as m:
                m.setattr(components, "DRIVER_THRESHOLD", threshold)
                assert _components(spark, pairs) == want, threshold

    check()
