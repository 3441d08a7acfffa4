"""Silver-layer materialization: build-once, fingerprint-keyed staleness."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from imdb_mapreduce_spark.sources.silver import materialized


def test_materialized_builds_once_and_rebuilds_on_source_change(spark, tmp_path):
    sf_dir = str(tmp_path)
    src = os.path.join(sf_dir, "documents.parquet")
    spark.range(5).select(F.col("id").alias("doc_id")).coalesce(1).write.parquet(src)

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.read.parquet(src).withColumn("x", F.col("doc_id") * 2)

    # three reads, one build
    for _ in range(3):
        got = materialized(spark, sf_dir, "t", "documents", {"v": 1}, build)
        assert {r["x"] for r in got.collect()} == {0, 2, 4, 6, 8}
    assert calls["n"] == 1

    # parameter change → rebuild (params are part of the staleness key)
    materialized(spark, sf_dir, "t", "documents", {"v": 2}, build)
    assert calls["n"] == 2

    # source data change → rebuild; consumer sees the NEW data
    spark.range(3).select(F.col("id").alias("doc_id")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    got = materialized(spark, sf_dir, "t", "documents", {"v": 2}, build)
    assert calls["n"] == 3
    assert {r["x"] for r in got.collect()} == {0, 2, 4}


def test_keep_list_second_call_reads_silver(spark):
    """The registered corpus_keep_list must not recompute clustering on a
    second call: the silver meta is untouched and results are identical."""
    import json

    from imdb_mapreduce_spark.pipeline.dedup import corpus_keep_list
    from imdb_mapreduce_spark.sources.silver import silver_root

    sf = "/root/testdata/sf0.001"
    first = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in corpus_keep_list(spark, sf).collect()}
    meta = os.path.join(silver_root(), "sf0.001", "dedup_clusters", "_meta.json")
    assert os.path.exists(meta)
    mtime = os.stat(meta).st_mtime_ns
    with open(meta) as f:
        assert json.load(f)["src"] == f"{sf}/documents.parquet"
    second = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in corpus_keep_list(spark, sf).collect()}
    assert os.stat(meta).st_mtime_ns == mtime  # no rebuild
    assert first == second


def test_materialized_recovers_from_torn_meta_and_deleted_data(spark, tmp_path):
    """ADVICE r04 item 3: torn meta or a deleted data dir must rebuild, not
    fail the read."""
    import shutil

    from imdb_mapreduce_spark.sources.silver import silver_root

    sf_dir = str(tmp_path)
    src = os.path.join(sf_dir, "documents.parquet")
    spark.range(4).select(F.col("id").alias("doc_id")).coalesce(1).write.parquet(src)

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.read.parquet(src).withColumn("x", F.col("doc_id") + 1)

    name = "torn"
    materialized(spark, sf_dir, name, "documents", {"v": 1}, build)
    assert calls["n"] == 1
    base = os.path.join(silver_root(), os.path.basename(sf_dir), name)

    # torn meta (partial JSON) → rebuild instead of JSONDecodeError
    with open(os.path.join(base, "_meta.json"), "w") as f:
        f.write('{"src": "tru')
    got = materialized(spark, sf_dir, name, "documents", {"v": 1}, build)
    assert calls["n"] == 2
    assert {r["x"] for r in got.collect()} == {1, 2, 3, 4}

    # data dir deleted under a valid meta → rebuild instead of read failure
    shutil.rmtree(os.path.join(base, "data"))
    got = materialized(spark, sf_dir, name, "documents", {"v": 1}, build)
    assert calls["n"] == 3
    assert {r["x"] for r in got.collect()} == {1, 2, 3, 4}


def test_copurchase_pair_cap_is_inert_below_cap_and_drops_hot_baskets(spark):
    """The a-priori basket cap (VERDICT r05 item 1): cap-on ≡ cap-off while
    every basket stays under the cap, and an oversized basket is dropped
    WHOLE before the quadratic self-join (so its Σ basket² pair fan never
    materializes)."""
    from imdb_mapreduce_spark.sources.silver import build_copurchase_pairs

    rows = [
        # two bounded baskets: {1,2,3} and {2,3}
        (10, 1), (10, 2), (10, 3),
        (20, 2), (20, 3),
        # one hot basket of 5 distinct parts
        (30, 1), (30, 2), (30, 3), (30, 4), (30, 5),
    ]
    e0 = spark.createDataFrame(rows, "o bigint, p bigint")

    uncapped = {
        (r["p1"], r["p2"]): r["support"]
        for r in build_copurchase_pairs(e0, max_basket=None).collect()
    }
    # cap above every basket: identical to uncapped (the inertness contract
    # the registered queries rely on — DuckDB oracles are cap-free)
    capped_loose = {
        (r["p1"], r["p2"]): r["support"]
        for r in build_copurchase_pairs(e0, max_basket=5).collect()
    }
    assert capped_loose == uncapped

    # cap at 4: basket 30 (5 parts) is dropped whole — only pairs from the
    # bounded baskets remain, with supports counted WITHOUT basket 30
    capped = {
        (r["p1"], r["p2"]): r["support"]
        for r in build_copurchase_pairs(e0, max_basket=4).collect()
    }
    assert capped == {(1, 2): 1, (1, 3): 1, (2, 3): 2}
    # and the hot basket's exclusive pairs (anything touching 4/5) are gone
    assert not any(4 in k or 5 in k for k in capped)


def test_unipartite_bfs_matches_bipartite_on_projected_graph(spark):
    """The silver BFS read path (unipartite over the projected co-purchase
    edges) must reproduce a two-hop BFS over the bipartite (part, order)
    pairs row-for-row — same levels, same min-parent attachment, same
    visited semantics."""
    from imdb_mapreduce_spark.operators.graph import unipartite_bfs
    from imdb_mapreduce_spark.sources.silver import copurchase_edges
    from imdb_mapreduce_spark.sources.star import load_table
    from tests.conftest import two_hop_bfs

    sf = "/root/testdata/sf0.001"
    l = load_table(spark, "lineitem", sf)
    # native BIGINT node domain — the registered query's domain since the
    # r06 review (a string cast on the join key defeats the bucketed layout)
    pairs = [tuple(r) for r in l.select("l_partkey", "l_orderkey").collect()]
    root = min(part for part, _ in pairs)
    uni_edges = copurchase_edges(spark, sf).select("src", "dst")
    for level in (2, 3):
        want = two_hop_bfs(pairs, root, level)
        got = unipartite_bfs(uni_edges, "src", "dst", root, level=level)
        assert sorted(tuple(r) for r in got.collect()) == sorted(want)
        assert level == 2 or want[-1][2] == 2  # round 2 reached something


def test_copurchase_edges_scan_is_bucketed_and_reregisters(spark):
    """The silver symmetric edge table reads back as a BUCKETED scan (so
    per-round src joins never re-shuffle the edge side), and a fresh
    catalog (new session) re-registers the table from the stored DDL
    without rewriting data."""
    from imdb_mapreduce_spark.sources import silver

    sf = "/root/testdata/sf0.001"
    t = silver.copurchase_edges(spark, sf)

    def join_plan(df):
        other = spark.range(50).select(F.col("id").alias("src"))
        j = df.join(other.hint("merge"), "src")
        return j._jdf.queryExecution().executedPlan().toString()

    plan = join_plan(t)
    # the edge side reads its bucketed layout; ONLY the other side exchanges
    assert "Bucketed: true" in plan
    assert plan.count("Exchange") == 1

    # fingerprint meta vouches for the data; simulate a fresh session by
    # dropping the catalog entry — the next call must re-CREATE over the
    # existing files (meta mtime unchanged → no rebuild)
    base = os.path.join(
        silver.silver_root(), "sf0.001", "copurchase_edges_by_src"
    )
    meta = os.path.join(base, "_meta.json")
    mtime = os.stat(meta).st_mtime_ns
    spark.sql("DROP TABLE IF EXISTS silver_copurchase_edges_by_src_sf0_001")
    t2 = silver.copurchase_edges(spark, sf)
    assert os.stat(meta).st_mtime_ns == mtime  # re-registered, not rebuilt
    assert "Bucketed: true" in join_plan(t2)
    assert t2.count() == t.count()


def test_unipartite_round_join_keeps_bucketed_edge_side_unshuffled(spark):
    """In the non-broadcast regime (max_broadcast_rows=0) a BFS round's
    frontier⋈edges join over the NATIVE-typed silver table must exchange
    only the frontier side — the bucketed bigint layout serves the join
    as-is. This is the plan property the r06 string-cast silently broke
    (a cast join key can never match the table's hash buckets)."""
    import io
    from contextlib import redirect_stdout

    from imdb_mapreduce_spark.sources.silver import copurchase_edges

    sf = "/root/testdata/sf0.001"
    edges = copurchase_edges(spark, sf).select("src", "dst")
    f = spark.range(5).select(F.col("id").alias("_f"))
    # force the non-broadcast regime: with broadcast available Spark
    # rightly ignores bucketing (tiny frontier → BHJ, no exchange at all)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", -1)
    try:
        joined = f.join(edges, F.col("_f") == F.col("src"), "inner")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    import re

    assert "Bucketed: true" in plan, plan
    assert "SortMergeJoin" in plan, plan
    # exactly one Exchange NODE (the frontier; formatted output names each
    # node twice — tree + detail); the edge scan feeds its join side
    # directly from the bucketed, pre-sorted layout
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_basket_cap_audit_trips_on_over_cap_basket(spark):
    """Fail-loud cap audit (VERDICT r07 item 5): the silver build path
    (``on_capped="raise"``) must ABORT when any basket exceeds the cap —
    cap-vs-oracle divergence can never be silent on new driver data —
    while the explicit production choice (``"drop"``) keeps the documented
    drop-whole-basket semantics."""
    import pytest as _pytest

    from imdb_mapreduce_spark.sources.silver import build_copurchase_pairs

    rows = [(10, 1), (10, 2), (30, 1), (30, 2), (30, 3), (30, 4), (30, 5)]
    e0 = spark.createDataFrame(rows, "o bigint, p bigint")

    with _pytest.raises(ValueError, match=r"1 basket\(s\) exceed MAX_BASKET=4"):
        build_copurchase_pairs(e0, max_basket=4, on_capped="raise")

    # under the cap: audit passes and result equals the drop path
    ok = build_copurchase_pairs(e0, max_basket=5, on_capped="raise")
    assert {(r["p1"], r["p2"], r["support"]) for r in ok.collect()} == {
        (r["p1"], r["p2"], r["support"])
        for r in build_copurchase_pairs(e0, max_basket=5).collect()
    }

    with _pytest.raises(ValueError, match="on_capped"):
        build_copurchase_pairs(e0, max_basket=4, on_capped="bogus")


def test_fingerprint_ignores_src_path_spelling(spark, tmp_path):
    """Naming the same corpus relatively vs absolutely must not rebuild
    (r09: a pre-r09 meta stored the RELATIVE spelling its build session
    used, and a later absolute-path request triggered a multi-hour
    2.4B-edge silver rebuild that then OOMed — path spelling is not
    staleness). Legacy relative-path metas normalize at compare time."""
    import json

    from imdb_mapreduce_spark.sources.silver import silver_root

    sf_dir = str(tmp_path)
    src = os.path.join(sf_dir, "documents.parquet")
    spark.range(6).select(F.col("id").alias("doc_id")).coalesce(1).write.parquet(src)

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.read.parquet(src)

    name = "spelling"
    materialized(spark, sf_dir, name, "documents", {"v": 1}, build)
    assert calls["n"] == 1

    # rewrite the committed meta to the legacy RELATIVE spelling
    meta = os.path.join(silver_root(), os.path.basename(sf_dir), name, "_meta.json")
    with open(meta) as f:
        stored = json.load(f)
    assert os.path.isabs(stored["src"])  # new metas are stored absolute
    stored["src"] = os.path.relpath(stored["src"])
    with open(meta, "w") as f:
        json.dump(stored, f)

    # an absolute-path request against the relative-path meta: NO rebuild
    materialized(spark, sf_dir, name, "documents", {"v": 1}, build)
    assert calls["n"] == 1

    # symlink spelling (ADVICE r09: abspath kept symlink spellings
    # distinct; realpath collapses them): naming the same corpus via a
    # symlinked sf_dir must not rebuild either. NOTE the symlinked dir
    # basename differs, so the silver TABLE PATH would differ — pin the
    # comparison at the fingerprint level, where the r09 bug lived.
    from imdb_mapreduce_spark.sources.silver import _source_fingerprint

    link_dir = str(tmp_path.parent / (tmp_path.name + "-link"))
    os.symlink(sf_dir, link_dir)
    try:
        fp_real = _source_fingerprint(sf_dir, "documents", {"v": 1})
        fp_link = _source_fingerprint(link_dir, "documents", {"v": 1})
        assert fp_real == fp_link  # same corpus, one canonical src spelling
    finally:
        os.unlink(link_dir)
