"""Class guard for executor-storage retention: every persist / cache /
(local)checkpoint site must carry a release story.

The r09 1000×-corpus failure (PageRank edge cache evicting mid-iteration)
and the r09/r10 retained-block audits established the rule: anything
that pins executor storage needs one of (a) a bounded relation, (b) a
data-proportional decision off a footer probe, or (c) a documented
release-on-GC retention contract. Like the Arrow-wall
and collect/crossJoin inventories, this converts that per-round manual
audit into a failing test for the NEXT operator that persists something
without deciding how it gets released.

Accepted classifications:

- ``lineage-truncation``: iterative-loop ``localCheckpoint`` of a
  per-round, vertex-/key-sized relation — the lineage-flattening idiom;
  blocks release when the driver GCs the superseded DataFrame refs
  (bench/iteration harnesses gc.collect() between queries).
- ``bounded-relation``: one-shot ``localCheckpoint`` of a relation
  bounded by construction (sketch sub-keys, eval samples, one row per
  key) — retention is trivially small at any corpus size.
- ``contract-documented``: the relation can scale with the corpus, and
  the site carries the written retention contract (released when the
  driver GCs refs and the ContextCleaner runs; why persist/unpersist
  was rejected) — ``verify_pairs_jaccard`` is the template.
- ``probe-guarded-persist``: ``persist()`` behind a data-proportional
  decision (``persist_edges`` off a footer probe) so the cache only
  exists at scales where it fits — the r09 PageRank fix.
- ``opt-in-cache``: user-facing ``cache=`` flag on an API object whose
  lifecycle the caller owns.
"""

from __future__ import annotations

import ast
import inspect
import os

import imdb_mapreduce_spark

PKG_ROOT = os.path.dirname(os.path.abspath(imdb_mapreduce_spark.__file__))

METHODS = {"localCheckpoint", "checkpoint", "persist", "cache"}

# (relpath, enclosing function, method) → (expected site count, class)
INVENTORY: dict[tuple[str, str, str], tuple[int, str]] = {
    ("api.py", "__init__", "cache"): (1, "opt-in-cache"),
    ("operators/components.py", "connected_components", "localCheckpoint"):
        (3, "lineage-truncation"),
    ("operators/graph.py", "unipartite_bfs", "localCheckpoint"):
        (1, "lineage-truncation"),
    ("operators/pagerank.py", "pagerank_exact", "localCheckpoint"):
        (2, "lineage-truncation"),
    ("operators/pagerank.py", "pagerank_exact", "persist"):
        (3, "probe-guarded-persist"),
    ("operators/sssp.py", "bounded_sssp", "localCheckpoint"):
        (2, "lineage-truncation"),
    ("pipeline/dedup.py", "verify_pairs_jaccard", "localCheckpoint"):
        (1, "contract-documented"),
    ("plans/events.py", "session_overlap_topk", "localCheckpoint"):
        (1, "contract-documented"),
    # the batch cascade (all three classes, `AggSpec.cascade`): the
    # minute tier fans out three ways (readout + hour + day via hour) —
    # the broadcast-fan-out shape where exchange reuse stops; bounded at
    # one row per minute bucket[, type] (time-horizon-, not corpus-,
    # proportional).
    ("plans/events.py", "cascade", "localCheckpoint"):
        (1, "bounded-relation"),
    # the batch erasure queries' pre-erasure minute state (all three
    # classes, `_erasure_state`): one row per (bucket[, type]),
    # time-horizon-proportional (the repaired minute is pinned by
    # `_pin_minute` below).
    ("plans/events.py", "_erasure_state", "localCheckpoint"):
        (1, "bounded-relation"),
    # r15 opt: the KMV sketch relation (≤ k rows per event type) feeds
    # five downstream subtrees, several under broadcast branches where
    # ReuseExchange cannot dedupe — unpinned, the distinct+window sketch
    # pass re-ran per reference (37 Exchanges / 30 Sorts in the plan).
    ("plans/quality.py", "kmv_set_ops",
     "localCheckpoint"): (1, "bounded-relation"),
    # r15 opt: the byte-histogram corpus totals (≤ 64 rows — one per
    # bucket) pin so the corpus/grand broadcasts stop re-running the
    # Arrow histogram kernel (4 → 2 kernel runs in the one action).
    ("pipeline/multimodal.py", "media_phash_dedup",
     "localCheckpoint"): (1, "bounded-relation"),
    # the re-derive repair's pinned touched set (r15 opt): bounded at
    # one row per fired minute, saves the membership join re-run under
    # every tier action's broadcast branch — one site for both classes
    # without an inverse (KMV, bottom-K).
    ("plans/events.py", "rederive_erasure_repair",
     "localCheckpoint"): (1, "bounded-relation"),
    # both repairs' default materializer: pins the repaired minute tier
    # only (the fan-out relation; coarse tiers stay lazy) — one row per
    # (bucket[, type]), time-horizon-proportional.
    ("plans/events.py", "_pin_minute",
     "localCheckpoint"): (1, "bounded-relation"),
    ("pipeline/similarity.py", "semdedup_clusters", "localCheckpoint"):
        (1, "contract-documented"),
    ("pipeline/similarity.py", "semdedup_eval_metrics", "localCheckpoint"):
        (1, "bounded-relation"),
    ("streaming/jobs.py", "streaming_foreachbatch_upsert",
     "localCheckpoint"): (1, "bounded-relation"),
    # r15 opt: the version writer's materializer pins the batch's
    # pre-aggregated minute partials (one row per touched (bucket[,
    # type]) — batch-, not corpus-, proportional) via localCheckpoint
    # instead of a parquet write+read: no reader ever consults
    # ``v*/partials``, so the durable-commit round trip was pure
    # overhead; the blocks are released when the fold chain's refs are
    # GC'd at the end of the query/drain body.
    ("streaming/jobs.py", "mat", "localCheckpoint"): (1, "bounded-relation"),
    # r15 opt round 2: fold_slices_pipelined's prefetcher pins the NEXT
    # slice's minute partials (same batch-bounded relation as the
    # fold materializer's "partials" site above — one row per touched
    # (bucket[, type])) while the current fold's tier writes run; the
    # blocks are released with the fold chain's refs at the end of the
    # query body, exactly like the materializer pin it replaces.
    ("streaming/jobs.py", "prep", "localCheckpoint"): (1, "bounded-relation"),
    # the incremental harness's readout (all three classes) — one row
    # per (bucket[, type]), materialized before its tempdir state
    # vanishes.
    ("streaming/jobs.py", "_incremental",
     "localCheckpoint"): (1, "bounded-relation"),
    ("streaming/jobs.py", "streaming_sessions_timeout",
     "localCheckpoint"): (1, "bounded-relation"),
    # the realtime harness (all three classes): read-time materializer
    # + final readout, one row per (bucket[, type]) each.
    ("streaming/jobs.py", "_realtime",
     "localCheckpoint"): (2, "bounded-relation"),
    ("streaming/jobs.py", "streaming_kmv_distinct_salted",
     "localCheckpoint"): (1, "bounded-relation"),
    # r15: the erasure-incremental harness's final readout (all three
    # classes) — one row per (bucket[, type]) across three tiers,
    # time-horizon-proportional; materialized because the backing
    # versioned state lives in a tempdir that vanishes when the query
    # body returns.
    ("streaming/jobs.py", "_erasure_incremental",
     "localCheckpoint"): (1, "bounded-relation"),
    # the as-of harness's readout (all three as-of readers) — one row
    # per (bucket[, type]) across three tiers, materialized before the
    # tempdir lineage vanishes.
    ("streaming/jobs.py", "_asof", "localCheckpoint"):
        (1, "bounded-relation"),
    # r15: the history purge's running subtrahend — consumed twice per
    # version (emptiness probe + repair) and otherwise a V-long union
    # chain; bounded at one row per erased (bucket, type).
    ("streaming/jobs.py", "erase_versioned_history",
     "localCheckpoint"): (1, "bounded-relation"),
    # r15 opt: the erasure fold of a class with an inverse pins the
    # negated partials before handing them to the repair — one row per
    # erased (bucket, type), same rationale as the batch query's pin.
    ("streaming/jobs.py", "erasure_fold_merge",
     "localCheckpoint"): (1, "bounded-relation"),
    # r15: the IVF delete-in-place writes OVER the very cell directories
    # its lineage reads — the checkpoint truncates that read-overwrite
    # cycle; the slice is erasure-footprint-proportional (touched cells'
    # rows), released with the query's driver scope.
    ("pipeline/similarity.py", "ivf_delete_in_place",
     "localCheckpoint"): (1, "lineage-truncation"),
    # r15: the probes relation (≤ N_QUERIES·nprobe rows — consumed by
    # the probe-cell collect AND the broadcast join; r16 moved its pin
    # into the _probe_leg closure for the concurrent probe build) and
    # the final top-k readout (≤ N_QUERIES·TOP_K rows) materialized
    # before the tempdir holding the index vanishes.
    ("pipeline/similarity.py", "ann_ivf_erasure_topk",
     "localCheckpoint"): (1, "bounded-relation"),
    ("pipeline/similarity.py", "_probe_leg",
     "localCheckpoint"): (1, "bounded-relation"),
}

ALLOWED = {
    "lineage-truncation",
    "bounded-relation",
    "contract-documented",
    "probe-guarded-persist",
    "opt-in-cache",
}


def _scan_package() -> dict[tuple[str, str, str], int]:
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
                        key = (rel, fn, child.func.attr)
                        sites[key] = sites.get(key, 0) + 1
                    walk(child, nfn)

            walk(tree, "<module>")
    return sites


def _source_of(rel: str, fn_name: str) -> str:
    import importlib

    mod_name = "imdb_mapreduce_spark." + rel[:-3].replace(os.sep, ".")
    mod = importlib.import_module(mod_name)
    obj = getattr(mod, fn_name, None)
    if obj is None:  # method (api.py __init__) — search classes
        for attr in vars(mod).values():
            if inspect.isclass(attr) and hasattr(attr, fn_name):
                obj = getattr(attr, fn_name)
                break
    return inspect.getsource(obj)


def test_every_persistence_site_is_classified():
    sites = _scan_package()
    assert sites, "scanner found no persistence sites — scanner broken?"
    unclassified = {k: n for k, n in sites.items() if k not in INVENTORY}
    assert not unclassified, (
        "persist/cache/checkpoint sites without a retention "
        f"classification: {unclassified}. Executor-storage blocks outlive "
        "the query unless something releases them (the r09 PageRank 1000× "
        "failure) — classify the site (see module docstring) or scope its "
        "release explicitly."
    )
    stale = [k for k in INVENTORY if k not in sites]
    assert not stale, f"INVENTORY entries no longer in the source: {stale}"
    drifted = {
        k: (sites[k], INVENTORY[k][0])
        for k in INVENTORY
        if sites[k] != INVENTORY[k][0]
    }
    assert not drifted, (
        f"site-count drift (found, expected): {drifted} — re-justify and "
        "update"
    )
    bad = {k: c for k, (_n, c) in INVENTORY.items() if c not in ALLOWED}
    assert not bad, f"unknown classification: {bad}"


def test_persist_classes_keep_their_release_story():
    """Structural spot-checks that each classification stays true:
    probe-guarded persists must still unpersist; documented contracts
    must still carry their contract text."""
    for (rel, fn_name, _m), (_n, cls) in INVENTORY.items():
        if cls == "probe-guarded-persist":
            src = _source_of(rel, fn_name)
            assert "unpersist" in src, (
                f"{rel}:{fn_name} is classified {cls} but no longer calls "
                "unpersist — the release story is gone"
            )
            assert "persist_edges" in src, (
                f"{rel}:{fn_name} lost its data-proportional persist "
                "decision"
            )
        if cls == "contract-documented":
            src = _source_of(rel, fn_name).lower()
            assert any(
                s in src
                for s in ("contextcleaner", "retention", "materializ")
            ), (
                f"{rel}:{fn_name} is classified contract-documented but "
                "the retention contract text is gone"
            )
