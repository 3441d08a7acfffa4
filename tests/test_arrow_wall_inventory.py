"""Class guard for the Arrow-bridge per-group buffer wall (VERDICT r10
item 3).

The r10 skew A/B and the seventh events decade measured a hard engine
wall: ``ApplyInPandasWithStateWriter`` buffers a grouping key's WHOLE
micro-batch group in one JVM direct buffer, and the grow/copy loop turns
~quadratic in rows/group — ~20M rows/group is fine, ~60M rows/group ran
>92 min heap-independently (SCALING.md r10). That makes per-key group
volume a correctness-of-operations budget for EVERY Python-stateful
operator, not just the salted KMV where it was discovered.

This test is the inventory pattern of test_width_proportionality.py
applied to that wall: it AST-scans the package for every
``applyInPandasWithState`` / ``transformWithStateInPandas`` call site and
asserts each one carries an explicit classification here. Registering a
new Python-stateful operator without classifying its per-key row budget
fails this test with instructions — the conscious decision is the guard.

Accepted classifications:

- ``high-cardinality``: the grouping key space grows with the data
  (user_id: rows/key is bounded by one user's activity, orders of
  magnitude under the wall at any corpus size — a single user producing
  8M+ events is a data-quality incident, not a workload).
- ``salt-sized``: the key is low-cardinality but the operator routes
  through a data-proportional salt sizer (``kmv_salts_for_rows``) that
  keeps rows/sub-key under ``KMV_SUBKEY_TARGET_ROWS``.
- ``key-bounded-waiver``: the key is low-cardinality and NOT salted —
  allowed only as the documented simple sibling of a salted tier; its
  docstring must carry the skew warning naming that tier.
"""

from __future__ import annotations

import ast
import os

import imdb_mapreduce_spark

PKG_ROOT = os.path.dirname(os.path.abspath(imdb_mapreduce_spark.__file__))

STATEFUL_METHODS = {"applyInPandasWithState", "transformWithStateInPandas"}

# (relpath, enclosing function, grouping keys) → classification.
# Keys are extracted from the receiver's .groupBy(...) literal args; a
# non-literal grouping expression records ("<dynamic>",) and needs a row
# here like any other site.
INVENTORY: dict[tuple[str, str, tuple[str, ...]], str] = {
    # The unsalted KMV: |event_types| keys own the whole stream. Kept as
    # the documented simple sibling; running_kmv_by_type_salted is the
    # skew-safe tier (docstring contract checked below).
    ("streaming/stateful.py", "running_kmv_by_type", ("event_type",)):
        "key-bounded-waiver",
    ("streaming/stateful.py", "running_kmv_by_type_salted",
     ("event_type", "salt")):
        "salt-sized",
    # Timeout sessionization (r13): one open session + one timeout per
    # user — per-group rows per batch are that user's batch events,
    # high-cardinality keyed so no group can own the stream.
    ("streaming/stateful.py", "sessions_by_timeout", ("user_id",)):
        "high-cardinality",
    # Streaming quantile tier (r15): bottom-K row-sample state per event
    # type — same low-cardinality key as the unsalted KMV, kept as its
    # documented simple sibling (the bottom-K multiset merge law re-merges
    # salted sub-samples exactly like KMV keep-sets, so the salted pattern
    # applies unchanged under key skew; docstring carries the warning).
    ("streaming/stateful.py", "running_qtl_by_type", ("event_type",)):
        "key-bounded-waiver",
}

ALLOWED = {"high-cardinality", "salt-sized", "key-bounded-waiver"}


def _grouping_keys(call: ast.Call) -> tuple[str, ...]:
    """Literal string args of the receiver's .groupBy(...), if that is
    what the stateful method is called on; ("<dynamic>",) otherwise."""
    recv = call.func.value  # the expression before .applyInPandasWithState
    if (
        isinstance(recv, ast.Call)
        and isinstance(recv.func, ast.Attribute)
        and recv.func.attr == "groupBy"
        and all(isinstance(a, ast.Constant) and isinstance(a.value, str)
                for a in recv.args)
        and recv.args
    ):
        return tuple(a.value for a in recv.args)
    return ("<dynamic>",)


def _scan_package() -> dict[tuple[str, str, tuple[str, ...]], int]:
    """Every stateful call site in the package → its line number."""
    sites: dict[tuple[str, str, tuple[str, ...]], int] = {}
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=rel)
            # map each node to its enclosing function name
            for func in ast.walk(tree):
                if not isinstance(
                    func, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    continue
                for node in ast.walk(func):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in STATEFUL_METHODS
                    ):
                        key = (rel, func.name, _grouping_keys(node))
                        # innermost enclosing function wins (later walk
                        # visits nested defs after outer ones)
                        sites[key] = node.lineno
    return sites


def test_every_stateful_call_site_is_classified():
    sites = _scan_package()
    assert sites, "scanner found no stateful call sites — scanner broken?"
    unclassified = {k: v for k, v in sites.items() if k not in INVENTORY}
    assert not unclassified, (
        "Python-stateful call sites without an Arrow-wall classification "
        f"(add them to INVENTORY with a justified class): {unclassified}. "
        "Any applyInPandasWithState/transformWithStateInPandas group can "
        "stall the Arrow bridge past ~KMV_SUBKEY_TARGET_ROWS rows/group "
        "(SCALING.md r10) — classify the key as high-cardinality, route "
        "it through a salt sizer, or document the key-bounded waiver."
    )
    stale = [k for k in INVENTORY if k not in sites]
    assert not stale, f"INVENTORY entries no longer in the source: {stale}"
    bad = {k: c for k, c in INVENTORY.items() if c not in ALLOWED}
    assert not bad, f"unknown classification: {bad}"


def test_waivered_sites_document_their_salted_sibling():
    """A key-bounded waiver is only acceptable as the documented simple
    sibling of a skew-safe tier: its docstring must carry the skew
    warning pointing at the salted operator."""
    import importlib

    for (rel, func_name, _keys), cls in INVENTORY.items():
        if cls != "key-bounded-waiver":
            continue
        mod_name = "imdb_mapreduce_spark." + rel[:-3].replace(os.sep, ".")
        fn = getattr(importlib.import_module(mod_name), func_name)
        doc = fn.__doc__ or ""
        assert "SKEW WARNING" in doc and "salted" in doc, (
            f"{rel}:{func_name} is a key-bounded Python-stateful operator "
            "without the documented skew warning naming its salted sibling"
        )


def test_salt_sized_sites_have_a_probe_backed_sizer():
    """The salt-sized classification must stay true: the registered query
    layer sizes n_salts off a footer probe (kmv_salts_for_rows), and the
    sizer keeps the worst-case hot key under the per-sub-key budget."""
    from imdb_mapreduce_spark.streaming.stateful import (
        KMV_SUBKEY_TARGET_ROWS,
        kmv_salts_for_rows,
    )

    for rows in (10**6, 10**8, 10**9, 10**10):
        assert rows / kmv_salts_for_rows(rows) <= KMV_SUBKEY_TARGET_ROWS
    # and the registered salted query actually calls the sizer
    import inspect

    from imdb_mapreduce_spark.streaming import jobs

    src = inspect.getsource(jobs.streaming_kmv_distinct_salted)
    assert "kmv_salts_for_rows" in src
