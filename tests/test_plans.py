"""Plan-quality assertions: not just "right answer" but "right PHYSICAL
plan" — the properties that make these queries survive a 100× scale-up.

Checks the formatted explain output for: predicate pushdown into the
parquet scan, column pruning (ReadSchema), broadcast joins on dims, and
whole-stage codegen coverage.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from imdb_mapreduce_spark.plans.registry import all_queries

SF = "/root/testdata/sf0.001"


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def test_filter_pushdown_reaches_scan(spark, queries):
    plan = explain_str(queries["pricing_summary"].spark_fn(spark, SF))
    # The shipdate predicate must reach the parquet reader...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and unused columns must not be read (column pruning): l_orderkey,
    # l_partkey etc. are absent from the scan schema.
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_extendedprice" in read_schema


def test_dim_joins_are_broadcast(spark, queries):
    plan = explain_str(queries["supplier_part_facts"].spark_fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # both dims broadcast
    assert "SortMergeJoin" not in plan  # no full shuffle join anywhere


def test_semi_anti_join_strategies(spark, queries):
    anti = explain_str(queries["customers_without_orders"].spark_fn(spark, SF))
    assert "LeftAnti" in anti
    semi = explain_str(queries["active_buildings_semi"].spark_fn(spark, SF))
    assert "LeftSemi" in semi


def test_aggregate_is_partial_then_final(spark, queries):
    plan = explain_str(queries["events_hourly"].spark_fn(spark, SF))
    # partial_count before the exchange = map-side combine: the shuffle
    # carries group states, not raw rows.
    assert "partial_count" in plan


def test_wholestage_codegen_covers_hot_path(spark, queries):
    df = queries["doc_quality_stats"].spark_fn(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="codegen")
    plan = buf.getvalue()
    assert "WholeStageCodegen" in plan
    formatted = explain_str(df)
    # pure built-in expression pipeline: no Python evaluation nodes
    assert "BatchEvalPython" not in formatted
    assert "ArrowEvalPython" not in formatted


def test_lookup_prunes_columns(spark, queries):
    plan = explain_str(queries["order_basket_lookup"].spark_fn(spark, SF))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # only the two needed columns are read from the fact table
    assert "l_extendedprice" not in read_schema
    assert "l_partkey" in read_schema


def test_cc_convergence_probe_has_no_join_or_broadcast(spark):
    # The per-round convergence check must be a pure scalar aggregate over
    # the checkpointed state — an earlier version broadcast the full label
    # relation every round to diff old vs new (a 100 TB scale-killer).
    import inspect

    from imdb_mapreduce_spark.operators import components
    from imdb_mapreduce_spark.operators.components import _checksum

    src = inspect.getsource(components)
    assert "F.broadcast" not in src

    labels = spark.range(1000).selectExpr("id as node", "id as label")
    from pyspark.sql import functions as F

    probe = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("node", "label").cast("decimal(38,0)")).alias("h"),
    )
    plan = explain_str(probe)
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan
    # and the real helper returns a scalar tuple, not a relation
    n, h = _checksum(labels, "node", "label")
    assert n == 1000 and h is not None


def test_new_pipeline_queries_stay_jvm_side(spark, queries):
    # r2 additions: pure built-in expression pipelines — no row-at-a-time
    # or Arrow Python evaluation anywhere (mapInPandas queries are audited
    # separately; these four must be all-JVM). embedding_lsh_dups moved to
    # the sanctioned Arrow-bucket-build set in r05; ngram_jaccard_pairs
    # holds its slot as the representative all-JVM dedup query.
    for name in (
        "source_quality_profile",
        "doc_repetition_stats",
        "corpus_keep_list",
        "ngram_jaccard_pairs",
    ):
        plan = explain_str(queries[name].spark_fn(spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "SortMergeJoin" not in plan, name  # hash/broadcast only


def test_source_profile_aggregates_partially(spark, queries):
    # one partial+final agg on source: the shuffle carries 20 group states,
    # not 5k raw rows
    plan = explain_str(queries["source_quality_profile"].spark_fn(spark, SF))
    assert "partial_count" in plan or "partial_sum" in plan


def test_keep_list_broadcasts_cluster_mapping(spark, queries):
    # the non-survivor mapping covers only docs in some near-dup pair —
    # always small relative to the corpus, and must broadcast
    plan = explain_str(queries["corpus_keep_list"].spark_fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_lsh_dups_uses_hash_join(spark, queries):
    # the bucket self-join must honor the shuffle_hash hint (AQE reuses
    # the exchange at runtime; sort-merge would add two full sorts)
    plan = explain_str(queries["embedding_lsh_dups"].spark_fn(spark, SF))
    assert "ShuffledHashJoin" in plan


def test_global_plan_hygiene_sweep(spark, queries):
    # Every registered batch query, one rule set: no row-at-a-time Python
    # (BatchEvalPython), no unbounded CartesianProduct. Arrow MapInPandas
    # is allowed only in the media_* pipeline (multimodal is the sanctioned
    # Python path); BroadcastNestedLoopJoin only where a deliberately
    # broadcast small side meets a non-equi/cross condition.
    ALLOW_MAPINPANDAS = {
        "media_metadata_stats", "media_feature_extract", "media_resize_plan",
        "media_frame_sample", "media_format_rollup", "media_byte_histogram",
        # Arrow LSH bucket build (exact mode) — the sanctioned per-vector
        # fast path (similarity.random_hyperplane_buckets_arrow), not a
        # UDF smell
        "ann_lsh_topk",
        "hard_negative_lsh",  # same Arrow bucket build as ann_lsh_topk
        "embedding_lsh_dups",
        # Arrow minhash / simhash signature builds (hashlib md5 + exact
        # int64 arithmetic, parity-tested vs the expression builds)
        "minhash_lsh_dups",
        "simhash_near_dups",
        # same Arrow signature build feeding the candidate-quality eval
        "minhash_eval_metrics",
        # Arrow pair scoring (cosine_pairs_arrow) over within-cell pairs
        "semdedup_clusters",
        # composes ann_lsh_topk (Arrow bucket build) with the brute truth
        "ann_recall_eval",
        # Arrow 64-bucket byte histogram feeding the perceptual hash
        "media_phash_dedup",
    }
    ALLOW_BNLJ = {
        "quantity_band_stats",
        "ann_cosine_topk",
        # same deliberate broadcast-queries × corpus-scan shape as
        # ann_cosine_topk, with the cross-label filter riding the scan
        "hard_negative_mining",
        # sample-bounded all-pairs truth (<=500 ids by construction) —
        # the audit that meters the cell-blocked scale path's recall
        "semdedup_eval_metrics",
        # composes ann_cosine_topk's deliberate broadcast x corpus scan
        "ann_recall_eval",
        # deliberate tiny cross joins: 1-row agg × 1-row agg (attach the
        # table rowcount to the FK check) and hour-grid × type-list (both
        # bounded by calendar/domain size, never by fact volume)
        "dq_expectations",
        "events_gapfill_zero",
        # 1-row dimensionality broadcast onto the |labels|·dim means frame
        "embedding_label_centroids",
        # sketch set-ops: every side bounded by |event types| (≤5) or
        # |types|·K sketch rows — pairwise work on sketches IS the point
        "kmv_set_ops",
        # 1-row min/max frame onto the fact scan + probe-grid (≤20 rows) ×
        # per-file zone maps (≤64·3 rows) — all bounded by constants
        "zone_map_prune_audit",
        # 2-row tier list × 1-row test-count frame
        "split_leakage_audit",
        # 1-row corpus-total frame onto the prediction projection
        "lang_id_confusion",
        # 1-row grand-total frame onto the per-bucket corpus shares
        "media_phash_dedup",
        # 1-row basket-count denominator frame (r16: was a separate driver
        # .count() action; now rides the plan as a broadcast aggregate)
        "basket_association_rules",
    }
    for name, q in queries.items():
        if "streaming" in q.tags:
            continue
        plan = explain_str(q.spark_fn(spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        if "MapInPandas" in plan:
            assert name in ALLOW_MAPINPANDAS, name
        if "BroadcastNestedLoopJoin" in plan:
            assert name in ALLOW_BNLJ, name


def test_json_trilogy_paths_agree_and_variant_parses_jvm_side(spark):
    """The three JSON decode tiers (get_json_object string path,
    from_json struct, parse_json VARIANT) must extract the identical k
    per row — the semantics-preservation claim behind recommending the
    variant tier at scale — and the variant parse must sit JVM-side in
    the scan-adjacent projection (no Python, column-pruned read)."""
    from pyspark.sql import functions as F

    from imdb_mapreduce_spark.sources.star import load_table

    e = load_table(spark, "events", SF)
    three = e.select(
        F.get_json_object("props", "$.k").cast("bigint").alias("k_str"),
        F.from_json("props", "k BIGINT")["k"].alias("k_struct"),
        F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias(
            "k_var"
        ),
    )
    disagree = three.filter(
        (F.col("k_str") != F.col("k_struct"))
        | (F.col("k_str") != F.col("k_var"))
        | F.col("k_var").isNull()
    ).count()
    assert disagree == 0

    qs = all_queries()
    plan = explain_str(qs["events_variant_stats"].spark_fn(spark, SF))
    assert "parseJson" in plan  # VariantExpressionEvalUtils.parseJson, JVM-side
    assert "ReadSchema: struct<event_type:string,props:string>" in plan
