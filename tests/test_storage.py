"""Storage-layout mechanics: bucketed joins avoid shuffles; date
partitioning prunes directories. The explain output is the assertion."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from imdb_mapreduce_spark.sources.star import load_table
from imdb_mapreduce_spark.sources.storage import write_bucketed

SF = "/root/testdata/sf0.001"


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    return spark  # session catalog backed by local warehouse dir


def test_bucketed_group_by_needs_no_exchange(spark):
    o = load_table(spark, "orders", SF)
    write_bucketed(o, "orders_bucketed", "o_custkey", buckets=4)
    t = spark.table("orders_bucketed")
    agg = t.groupBy("o_custkey").agg(F.count("*").alias("n"))
    plan = _explain(agg)
    assert "Exchange" not in plan  # aggregation runs on the bucket layout
    assert agg.count() > 0


def test_bucketed_join_is_shuffle_free_on_bucket_key(spark):
    o = load_table(spark, "orders", SF)
    l = load_table(spark, "lineitem", SF)
    write_bucketed(o, "o_b", "o_orderkey", buckets=4)
    write_bucketed(
        l.select(F.col("l_orderkey"), "l_partkey", "l_quantity"), "l_b", "l_orderkey", 4
    )
    joined = (
        spark.table("l_b")
        .hint("merge")  # force the non-broadcast path: bucketing must carry it
        .join(spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = _explain(joined)
    # co-bucketed scan on both sides: no shuffle exchange before the join
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert joined.count() > 0


def test_ivf_cell_partition_layout_prunes_probed_cells(spark, tmp_path):
    """The IVF index layout claim: persist cell assignments partitioned BY
    cell (the deterministic md5-pivot cells ``ann_ivf_erasure_topk``
    writes), and a query reads only its probed cells' directories —
    partition pruning at planning time, not a post-scan filter. This is
    what makes IVF sub-linear in I/O, not just in compute."""
    from imdb_mapreduce_spark.pipeline.similarity import (
        _assigned_cells,
        ivf_det_pivots,
    )
    from imdb_mapreduce_spark.sources.star import load_table as lt

    emb = lt(spark, "embeddings", SF)
    cells = _assigned_cells(emb, ivf_det_pivots(spark, SF))
    path = str(tmp_path / "corpus_by_cell")
    cells.write.mode("overwrite").partitionBy("cell").parquet(path)
    back = spark.read.parquet(path)
    probed = back.filter(F.col("cell").isin(0, 3))
    plan = _explain(probed)
    # the IN-list lands in PartitionFilters (directory pruning), and the
    # data scan reads only the payload columns
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "IN (0,3)" in pf
    n_probed = probed.count()
    assert 0 < n_probed < back.count()  # strictly fewer rows than the corpus


def test_ivf_delete_in_place_touches_only_erased_cells(
    spark, tmp_path, monkeypatch
):
    """The r15 index-erasure claim (`ivf_delete_in_place`): deleting
    erased vectors rewrites ONLY the cell directories that held them —
    untouched cells' files are byte-level undisturbed (same names,
    sizes, mtimes: never opened for write, moved, or rewritten) — and
    the repaired index content equals the original minus the erased
    rows exactly.

    The session stays at `static` partition overwrite and may not be
    mutated: the dynamic overwrite is an option of the write itself, so
    a query thread running beside the delete never sees it."""
    import os

    from pyspark.sql.conf import RuntimeConfig

    from imdb_mapreduce_spark.pipeline.similarity import (
        _assigned_cells,
        ivf_delete_in_place,
    )

    # 4 well-separated unit pivots; 40 vectors each perturbed toward its
    # owning pivot → deterministic cells 0..3
    pivots = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
    ]
    rows = []
    for i in range(40):
        base = [0.05, 0.05, 0.05, 0.05]
        base[i % 4] = 1.0
        base[(i // 4) % 4] += 0.01 * (i % 3)
        rows.append((i, [float(x) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cells_dir = str(tmp_path / "cells")
    _assigned_cells(emb, pivots).write.partitionBy("cell").parquet(cells_dir)

    def listing():
        out = {}
        for entry in os.listdir(cells_dir):
            if not entry.startswith("cell="):
                continue
            d = os.path.join(cells_dir, entry)
            out[entry] = sorted(
                (f, os.stat(os.path.join(d, f)).st_size,
                 os.stat(os.path.join(d, f)).st_mtime_ns)
                for f in os.listdir(d)
            )
        return out

    before_files = listing()
    before_rows = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(cells_dir).collect()
    }
    # erase two vectors that both live in cell 0 (vec_id ≡ 0 mod 4)
    erased_ids = [0, 4]
    erased = emb.filter(F.col("vec_id").isin(erased_ids)).select(
        "vec_id", "embedding"
    )
    # `static` is Spark's default, so this leaves the shared session as
    # it found it; a static overwrite would wipe every untouched cell
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")

    def no_conf_set(self, key, value):
        raise AssertionError(f"session conf mutated: {key}={value}")

    monkeypatch.setattr(RuntimeConfig, "set", no_conf_set)
    touched = ivf_delete_in_place(spark, cells_dir, erased, pivots)
    assert touched == [0]
    after_files = listing()
    # untouched cells: still there, byte-level undisturbed
    for entry, files in before_files.items():
        if entry != "cell=0":
            assert after_files.get(entry) == files, entry
    # touched cell: rewritten (different file set) and erased rows gone
    assert after_files["cell=0"] != before_files["cell=0"]
    after_rows = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(cells_dir).collect()
    }
    assert after_rows == {
        (v, c) for v, c in before_rows if v not in erased_ids
    }
    # erasing nothing is a no-op that touches no directory
    assert ivf_delete_in_place(spark, cells_dir, emb.filter("false"), pivots) == []
    assert listing() == after_files
    # erasing EVERY remaining vector of one cell must remove its
    # directory outright: dynamic partition overwrite cannot rewrite a
    # partition with zero rows, so without the directory drop the
    # deleted vectors would survive on disk (r15 review catch)
    cell1_ids = [v for v, c in after_rows if c == 1]
    assert cell1_ids, "fixture must populate cell 1"
    wipe = emb.filter(F.col("vec_id").isin(cell1_ids)).select(
        "vec_id", "embedding"
    )
    assert ivf_delete_in_place(spark, cells_dir, wipe, pivots) == [1]
    assert "cell=1" not in listing()
    final_rows = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(cells_dir).collect()
    }
    assert final_rows == {
        (v, c) for v, c in after_rows if v not in set(cell1_ids)
    }


def test_schema_evolution_merge_read(spark, tmp_path):
    """Evolving a silver table in place: files written before a column
    existed coexist with files written after. mergeSchema unifies them
    (old rows read NULL for the new column) — the at-rest contract that
    lets a 100 TB table gain a column without a rewrite."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(
        path
    )
    spark.createDataFrame(
        [(3, "c", 30)], "id long, v string, score long"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert dict(merged.dtypes) == {"id": "bigint", "v": "string", "score": "bigint"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: 30}


def test_compaction_rewrites_small_files_and_keeps_rows(spark, tmp_path):
    """A fragmented write (many tiny files) audits as all-small, with a
    footer-derived target count below the file count — the plan
    ``compact_state_version`` rewrites to (its own rewrite is pinned in
    tests/test_state_compaction.py)."""
    from imdb_mapreduce_spark.sources.storage import compaction_plan

    src = str(tmp_path / "frag")
    df = spark.range(10_000).selectExpr("id AS k", "id % 97 AS v")
    df.repartition(64).write.parquet(src)  # 64 tiny files

    plan = compaction_plan(src, target_bytes=1024 * 1024)
    assert plan["n_files"] == 64
    assert plan["small_files"] == 64
    assert plan["target_files"] < 64


def test_bucketed_pagerank_round_join_needs_no_edge_shuffle(spark, monkeypatch):
    """VERDICT r06 item 5: the operators/pagerank.py scale claim,
    exercised like the BFS variant above. With the edge table bucketed on
    src (the silver copurchase_edges layout pagerank_coparts reads) and
    EVERY broadcast disabled, two full power-iteration rounds must show
    zero Exchange on the edge-side key: the degree-annotation join
    (e ⋈ deg on _src) and each round's rank ⋈ edges join all reuse the
    bucket layout. Only (node, rank)-tuple sides exchange — rows, not TB.

    Calibrated against the live plan when written: 5 exchanges for 2
    rounds, keyed node#… (nodes build + per-round rank side) and _dst#…
    (per-round contribution agg) — none keyed _src. Without the bucketed
    layout the same run shows hashpartitioning(_src#…) exchanges. The
    graph is small enough for the driver rounds, so the bound is dropped
    to keep the distributed rounds under test."""
    from imdb_mapreduce_spark.operators import pagerank
    from imdb_mapreduce_spark.operators.pagerank import pagerank_exact

    monkeypatch.setattr(pagerank, "DRIVER_MAX_EDGES", 0)

    l = load_table(spark, "lineitem", SF)
    e = l.select(
        F.col("l_partkey").alias("src"), F.col("l_orderkey").alias("dst")
    ).limit(2000)
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    write_bucketed(edges, "pr_edges_by_src", "src", buckets=4)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ranks = pagerank_exact(
            spark.table("pr_edges_by_src"),
            iterations=2,
            checkpoint_every=10**9,  # no mid-run checkpoint: keep the lineage
            max_broadcast_rows=0,  # drop our own broadcast hints too
            final_checkpoint=False,  # return the UNtruncated round plan
        )
        plan = _explain(ranks)
        n = ranks.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan
    # the edge-side join key never exchanges: both the deg-annotation join
    # and every round's rank⋈edges join read the bucket layout in place
    assert "hashpartitioning(_src" not in plan
    # the rank/contribution sides still exchange — that IS the minimal
    # per-round shuffle set (one agg exchange + one rank-side exchange)
    assert "hashpartitioning(_dst" in plan
    assert n > 0


def test_variant_column_parquet_roundtrip(spark, tmp_path):
    """The silver-layer VARIANT play (events_variant_stats' 100 TB
    posture): a parse_json column persisted to parquet must come back
    TYPED (variant logical type, not a string) and sub-field extraction
    must work on the read-back bytes without re-parsing JSON. Also pins
    the 4.1.2 capability statement in the query docstring: reading
    shredded variant is enabled by default in this engine."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "var.parquet")
    n = 1000
    df = spark.range(n).select(
        "id",
        F.parse_json(
            F.concat(F.lit('{"k": '), F.col("id").cast("string"), F.lit("}"))
        ).alias("v"),
    )
    df.write.parquet(out)
    back = spark.read.parquet(out)
    assert dict(back.dtypes)["v"] == "variant"  # typed, not a string
    got = (
        back.select(F.try_variant_get("v", "$.k", "bigint").alias("k"))
        .agg(F.sum("k").alias("s"))
        .collect()[0]["s"]
    )
    assert got == n * (n - 1) // 2
    assert spark.conf.get("spark.sql.variant.allowReadingShredded") == "true"
