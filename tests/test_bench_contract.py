"""bench.py and registry contract guards (no Spark session needed).

A stale HEADLINE name silently records an {"err": KeyError} row per
round; a canary outside the headline set silently nulls drift_factor.
Both become test failures here instead.
"""

from __future__ import annotations

import __spark_entry__
import bench

from imdb_mapreduce_spark.plans import registry
from imdb_mapreduce_spark.plans.registry import all_queries


def test_headline_queries_are_registered():
    names = set(all_queries())
    stale = [n for n in bench.HEADLINE if n not in names]
    assert not stale, f"bench HEADLINE names missing from registry: {stale}"


def test_drift_canaries_are_headline_members():
    """Canaries must be timed every run (drift_factor is computed from
    `timings`, which only holds HEADLINE queries) and their pinned
    references must be positive numbers."""
    for name, ref in bench.DRIFT_CANARIES.items():
        assert name in bench.HEADLINE, name
        assert isinstance(ref, float) and ref > 0, (name, ref)


def test_warmup_query_is_registered():
    assert "priority_segment_union" in all_queries()


def test_registry_iterates_in_registration_order():
    """`all_queries()` and the driver contract list every query once, in
    registration order, each with a DuckDB oracle."""
    names = list(all_queries())
    assert names == list(registry._REGISTRY)
    # a second call neither re-registers nor reorders
    assert list(all_queries()) == names
    assert list(__spark_entry__.queries()) == names
    assert list(__spark_entry__.oracle_sql()) == names
    assert all(q.oracle is not None for q in all_queries().values())
