"""Class guard for driver-side materialization and Cartesian joins.

Every VERDICT since r08 has re-checked, by hand, that the package's
``.collect()`` sites are bounded (scalar aggregates, thresholded
union-find, budget-guarded BFS exports) and that its ``.crossJoin()``
sites are either 1-row broadcast attaches, bounded-small dimension
grids, or the documented brute-force exact tiers whose scale-safe
siblings are registered. That audit is exactly the shape of defect the
repo's inventory guards exist for (test_width_proportionality.py,
test_arrow_wall_inventory.py): correct today, silently violated by the
NEXT operator someone adds.

This test AST-scans the package for every ``.collect()`` (excluding
``gc.collect()``) and ``.crossJoin()`` call site, keyed by (file,
enclosing function, method), and asserts each carries an explicit
classification with the expected site count. Adding a new collect or
crossJoin — or adding a second one to a function that had one — fails
the suite until the author classifies it.

Accepted classifications:

- ``scalar-agg``: collect of an aggregation already reduced to ≤1 row
  (footer-probe fallbacks, checksums, max-key reads).
- ``bounded-rows``: collect bounded by an explicit constant in code
  (``limit(k)``, ``N_QUERIES`` filter).
- ``bounded-export``: driver-side tree/DOT export bounded by the BFS
  operator's own budget guards (the reference's client-facing surface).
- ``thresholded``: guarded by an explicit row-count threshold that
  raises/falls back before unbounded driver materialization
  (``components.py`` union-find, ``pagerank.py`` driver rounds, the
  ``graph.py`` adjacency fill).
- ``one-row-attach``: crossJoin against a 1-row broadcast aggregate
  (the scalar-attach idiom; Cartesian in name only).
- ``bounded-dims``: crossJoin where both sides are bounded-small by
  construction (time grid × event types, zone-map file list × fixed
  probe set).
- ``exact-tier``: the documented brute-force tier (bounded query
  broadcast × corpus scan) whose scale-safe sibling is registered and
  cross-referenced in its docstring.
"""

from __future__ import annotations

import ast
import os

import imdb_mapreduce_spark

PKG_ROOT = os.path.dirname(os.path.abspath(imdb_mapreduce_spark.__file__))

# toPandas / toLocalIterator are the other spellings of driver
# materialization; scanning for them makes each new site fail here until
# classified, instead of shipping an unbounded driver fetch.
METHODS = {"collect", "crossJoin", "toPandas", "toLocalIterator"}

# (relpath, enclosing function, method) → (expected site count, class)
INVENTORY: dict[tuple[str, str, str], tuple[int, str]] = {
    ("plans/analytics.py", "zone_map_prune_audit", "crossJoin"):
        (3, "bounded-dims"),
    ("plans/events.py", "events_gapfill_zero", "crossJoin"):
        (1, "bounded-dims"),
    # r16: the basket count rides the plan as a 1-row broadcast aggregate
    # instead of a separate driver .count() action (one action, not two)
    ("plans/graph_queries.py", "basket_association_rules", "crossJoin"):
        (1, "one-row-attach"),
    ("plans/graph_queries.py", "copurchase_bfs_l3", "collect"):
        (1, "scalar-agg"),
    ("plans/graph_queries.py", "copurchase_sssp", "collect"):
        (1, "scalar-agg"),
    ("plans/quality.py", "dq_expectations", "crossJoin"):
        (1, "one-row-attach"),
    ("operators/components.py", "_driver_union_find", "collect"):
        (1, "thresholded"),
    ("operators/components.py", "_checksum", "collect"): (1, "scalar-agg"),
    # one degree aggregate shared by both BFS forms and ImdbEngine, which
    # runs it once per engine for both query directions and the edge count
    ("operators/graph.py", "degree_stats", "collect"): (1, "scalar-agg"),
    # Adjacency.fill: the (actor, title) pairs of the whole edge table,
    # collected only when the aggregate's edge count n has 2n ≤
    # ADJACENCY_MAX_VALUES (1.6 M), i.e. at most 800 k rows. At the bound
    # that is ~0.5 GB of driver memory while the index is built and
    # ~150 MB kept (tracemalloc, synthetic 19-character names).
    ("operators/graph.py", "fill", "collect"): (1, "thresholded"),
    # the miss path of a budgeted request's point lookups past the fill
    # bound (Adjacency.lookup under costar_bfs, ImdbEngine.request), one
    # per hop, fetching only the keys the engine's Adjacency does not hold.
    # Hop 1 returns the edges of the frontier: ≤ max_vertices keys after
    # the previous round's exact check, ~frontier × degree rows. Hop 2
    # returns one round's candidate edges, ~frontier × degree², which the
    # pre-join estimate caps at BFS_WORK_SLACK (16) × budget on AVERAGE
    # degree; a frontier of hubs can exceed it by its excess degree. The
    # Adjacency keeps at most ADJACENCY_MAX_VALUES (REQUEST_MAX_VERTICES ×
    # BFS_WORK_SLACK = 1.6 M) fetched values, evicting least-recently-used
    # keys.
    ("operators/graph.py", "_lookup", "collect"): (1, "bounded-export"),
    # PageRank's driver rounds: one Arrow collect of the edges, run only
    # when a count() of them is at most pagerank.DRIVER_MAX_EDGES (4 M);
    # at the bound, with the per-edge arrays, +320 MB of driver memory.
    ("operators/pagerank.py", "_driver_rounds", "toPandas"):
        (1, "thresholded"),
    ("pipeline/curation.py", "split_leakage_audit", "crossJoin"):
        (1, "one-row-attach"),
    ("pipeline/curation.py", "snapshot_diff", "collect"): (1, "scalar-agg"),
    ("pipeline/multimodal.py", "media_phash_dedup", "crossJoin"):
        (1, "one-row-attach"),
    ("pipeline/similarity.py", "ann_cosine_topk", "crossJoin"):
        (1, "exact-tier"),
    ("pipeline/similarity.py", "embedding_label_centroids", "crossJoin"):
        (1, "one-row-attach"),
    ("pipeline/similarity.py", "ivf_det_pivots", "collect"):
        (1, "bounded-rows"),
    ("pipeline/similarity.py", "hard_negative_mining", "crossJoin"):
        (1, "exact-tier"),
    ("pipeline/text.py", "lang_id_confusion", "crossJoin"):
        (1, "one-row-attach"),
    # r15: the erased rows' distinct owning cells (≤ k cell ids) — the
    # IN-list the partition-pruned rewrite needs as plan literals — and
    # the repaired slice's remaining cells (≤ touched cells), which
    # decide directory drops for fully-erased cells.
    ("pipeline/similarity.py", "ivf_delete_in_place", "collect"):
        (2, "bounded-rows"),
    # r15: the probe-list cell ids (≤ N_QUERIES·nprobe distinct) — the
    # IN-list the pruned index read needs as plan literals. r16 moved
    # the site into the _probe_leg closure so it can run on a driver
    # thread concurrently with the index write + delete chain (same
    # bounded rows, same consumer).
    ("pipeline/similarity.py", "_probe_leg", "collect"):
        (1, "bounded-rows"),
}

ALLOWED = {
    "scalar-agg",
    "bounded-rows",
    "bounded-export",
    "thresholded",
    "one-row-attach",
    "bounded-dims",
    "exact-tier",
}


def _scan_package() -> dict[tuple[str, str, str], int]:
    """(relpath, enclosing fn, method) → number of call sites found."""
    sites: dict[tuple[str, str, str], int] = {}
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=rel)

            def walk(node: ast.AST, fn: str) -> None:
                for child in ast.iter_child_nodes(node):
                    nfn = (
                        child.name
                        if isinstance(
                            child, (ast.FunctionDef, ast.AsyncFunctionDef)
                        )
                        else fn
                    )
                    if (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr in METHODS
                    ):
                        recv = child.func.value
                        is_gc = (
                            isinstance(recv, ast.Name) and recv.id == "gc"
                        )
                        if not (child.func.attr == "collect" and is_gc):
                            key = (rel, fn, child.func.attr)
                            sites[key] = sites.get(key, 0) + 1
                    walk(child, nfn)

            walk(tree, "<module>")
    return sites


def test_every_collect_and_crossjoin_is_classified():
    sites = _scan_package()
    assert sites, "scanner found no collect/crossJoin — scanner broken?"
    unclassified = {k: n for k, n in sites.items() if k not in INVENTORY}
    assert not unclassified, (
        "collect()/crossJoin() call sites without a boundedness "
        f"classification: {unclassified}. collect() materializes on the "
        "driver and crossJoin() is Cartesian — both are unbounded at "
        "100 TB unless the site is structurally bounded. Add the site to "
        "INVENTORY with a justified class (see module docstring), or "
        "redesign it distributed."
    )
    stale = [k for k in INVENTORY if k not in sites]
    assert not stale, f"INVENTORY entries no longer in the source: {stale}"
    drifted = {
        k: (sites[k], INVENTORY[k][0])
        for k in INVENTORY
        if sites[k] != INVENTORY[k][0]
    }
    assert not drifted, (
        f"site-count drift (found, expected): {drifted} — a function "
        "gained or lost collect/crossJoin sites; re-justify and update"
    )
    bad = {k: c for k, (_n, c) in INVENTORY.items() if c not in ALLOWED}
    assert not bad, f"unknown classification: {bad}"


def test_exact_tiers_name_their_scale_safe_sibling():
    """An exact-tier crossJoin is acceptable only while its docstring
    cross-references the registered scale-safe sibling — the contract
    every VERDICT's perf-weak allowance rests on."""
    import importlib

    for (rel, fn_name, _m), (_n, cls) in INVENTORY.items():
        if cls != "exact-tier":
            continue
        mod_name = "imdb_mapreduce_spark." + rel[:-3].replace(os.sep, ".")
        fn = getattr(importlib.import_module(mod_name), fn_name)
        doc = (fn.__doc__ or "").lower()
        assert any(s in doc for s in ("lsh", "ivf", "scale-safe", "sibling")), (
            f"{rel}:{fn_name} is an exact/brute tier without a docstring "
            "cross-reference to its scale-safe sibling"
        )
