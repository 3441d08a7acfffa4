"""Corpus-curation operators ([NORTH-STAR]): the decisions a training-data
pipeline makes AFTER cleaning — what to exclude (benchmark contamination),
what to keep (stratified / per-group sampling), and how to fold in late
corrections (CDC upsert).

All four are pure DataFrame compositions with exact DuckDB oracles; the
determinism trick throughout is the portable md5 fragment-hash from
``pipeline/dedup.py`` (``conv(substr(md5(x),1,7),16,10)`` ↔
``('0x' || substr(md5(x),1,7))::BIGINT``) so sampling decisions are
bit-identical across engines and across runs — a re-run of the pipeline
selects the SAME documents, which is what makes corpus builds auditable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdb_mapreduce_spark.pipeline.dedup import SHINGLE_LIST_SQL
from imdb_mapreduce_spark.pipeline.text import SPLIT_TRAIN_END, SPLIT_VAL_END
from imdb_mapreduce_spark.plans.registry import register
from imdb_mapreduce_spark.sources.star import load_table

# Word-n-gram size for contamination checks. Real pipelines use 8-13-gram
# overlap (the WMDP/GPT-3 convention); this synthetic corpus draws ~40
# vocabulary words, where 8-grams are near-unique per doc — 3-grams give
# the collision structure that exercises the operator.
DECONTAM_NGRAM = 3

# Benchmark membership: a deterministic pseudo-benchmark (every 97th doc).
# In production this is the actual eval-set text, loaded as its own table.
BENCH_MOD = 97

# Broadcast gate for the decontam join (ADVICE r04): ~2M shingles × ~100 B
# each ≈ 200 MB hashed relation — the sane per-executor ceiling. Estimated
# bench shingles = bench-doc count × this per-doc bound (documents are
# capped well under 1024 whitespace tokens in this corpus; a production
# eval set would carry its own measured bound).
EST_SHINGLES_PER_DOC = 1024
BENCH_BROADCAST_MAX_SHINGLES = 2_000_000

# Per-language keep-rates (percent) for the stratified downsample:
# rebalance the English-heavy corpus (the classic data-mixing move).
STRATA_RATES = {"en": 20, "de": 40, "fr": 40, "es": 40, "zh": 40}
DEFAULT_RATE = 40

PER_GROUP_N = 20


def _md5_bucket(col: Column, mod: int = 100) -> Column:
    """Deterministic [0, mod) bucket from a 28-bit md5 prefix — portable
    (bit-identical in DuckDB) and uniform. The sampling primitive."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 7), 16, 10).cast(
        "bigint"
    ) % mod


def _word_ngrams(n: int, toks: str = "toks") -> Column:
    """DISTINCT word n-grams of a PRE-SPLIT token array column.

    r15 opt: tokens must be materialized as their own column first —
    the old form referenced ``split(text)`` inside both the sequence
    bound and the slice lambda, re-splitting the string once per index
    (O(words²) per doc; the same trap ``word_shingles`` documents).
    ``array_distinct`` dedups per doc IN the expression, so the caller
    needs no post-explode ``.distinct()`` exchange: (doc_id, gram) rows
    come out unique by construction."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, size({toks}) - {n - 1}),"
            f" i -> concat_ws(' ', slice({toks}, i, {n})))"
        )
    )


@register(
    "benchmark_decontam",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - {DECONTAM_NGRAM - 1}),
                    i -> array_to_string(t[i:i+{DECONTAM_NGRAM - 1}], ' '))) AS g
      FROM toks WHERE len(t) >= {DECONTAM_NGRAM}),
    dg AS (SELECT DISTINCT doc_id, g FROM grams)
    SELECT c.doc_id,
           CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_overlap_shingles,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_benchmark_docs
    FROM dg c JOIN dg b ON c.g = b.g
    WHERE b.doc_id % {BENCH_MOD} = 0 AND c.doc_id % {BENCH_MOD} <> 0
    GROUP BY c.doc_id
    """,
    tags=("curation", "north-star", "decontamination"),
)
def benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag corpus documents sharing any word
    n-gram with the benchmark set, with overlap evidence counts (how many
    distinct shingles, from how many distinct benchmark docs).

    100 TB posture: a REAL eval set is small by definition (~10³-10⁵
    docs), so its distinct shingle set broadcasts and the corpus side is a
    single map-side semi-join + one aggregation shuffle on doc_id — the
    corpus text is never shuffled. This synthetic stand-in carves the
    benchmark out of the corpus itself (doc_id % {BENCH_MOD}), which makes
    the benchmark side CORPUS-PROPORTIONAL — so the broadcast is gated on
    an estimated shingle count (parquet-metadata row count ×
    shingles-per-doc bound) and falls back to a shuffle hash join when the
    estimate exceeds ``BENCH_BROADCAST_MAX_SHINGLES``. The n-gram explode
    is shuffle-free fan-out either way.
    """
    docs = load_table(spark, "documents", sf_dir)
    # r15 opt (guide §2.4): grams dedup per-doc inside the expression
    # (array_distinct in _word_ngrams) instead of a corpus-wide
    # .distinct() — (doc_id, g) is unique either way (a gram can only
    # repeat WITHIN a doc), so the full exchange of every gram string
    # bought nothing; consumers are countDistinct (duplicate-tolerant)
    # and the join, which the per-doc dedup prunes identically.
    grams = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= DECONTAM_NGRAM)
        .select("doc_id", F.explode(_word_ngrams(DECONTAM_NGRAM)).alias("g"))
    )
    bench = grams.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "g"
    )
    corpus = grams.filter(F.col("doc_id") % BENCH_MOD != 0)
    # Row count straight from the parquet footer (pyarrow, driver-side) —
    # zero Spark jobs for the gate (r05: the count() job, cheap as it was,
    # showed up as a 1.15× bench delta on this sub-2 s query).
    from imdb_mapreduce_spark.sources.star import parquet_num_rows

    n_docs = parquet_num_rows(f"{sf_dir}/documents.parquet")
    n_bench_docs = n_docs // BENCH_MOD + 1
    if n_bench_docs * EST_SHINGLES_PER_DOC <= BENCH_BROADCAST_MAX_SHINGLES:
        bench = F.broadcast(bench)
    else:  # corpus-scale benchmark side: shuffle hash, never sort-merge
        bench = bench.hint("shuffle_hash")
    return (
        corpus.join(bench, "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_overlap_shingles"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
    )


@register(
    "stratified_sample_hash",
    oracle=f"""
    SELECT doc_id, lang,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100
             AS bucket
    FROM documents
    WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100
          < CASE lang WHEN 'en' THEN {STRATA_RATES['en']}
                      WHEN 'de' THEN {STRATA_RATES['de']}
                      WHEN 'fr' THEN {STRATA_RATES['fr']}
                      WHEN 'es' THEN {STRATA_RATES['es']}
                      WHEN 'zh' THEN {STRATA_RATES['zh']}
                      ELSE {DEFAULT_RATE} END
    """,
    tags=("curation", "north-star", "sampling"),
)
def stratified_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a per-language percentage of
    documents, decided by a content-stable hash bucket — NOT an RNG.

    Why hash, not ``sampleBy``: RNG sampling is partitioning-dependent and
    engine-specific; hash sampling is reproducible (same doc set every
    run, any cluster size), auditable (membership is a pure function of
    doc_id), and incremental (new docs don't re-roll old decisions — the
    property that makes corpus versioning tractable). Pure projection +
    filter: zero shuffles at any scale.
    """
    docs = load_table(spark, "documents", sf_dir)
    bucket = _md5_bucket(F.col("doc_id"))
    rate = F.lit(DEFAULT_RATE)
    for lang, r in STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return docs.select("doc_id", "lang", bucket.alias("bucket")).filter(
        F.col("bucket") < rate
    )


@register(
    "sample_n_per_group",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS sample_rank
      FROM documents)
    SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r WHERE sample_rank <= {PER_GROUP_N}
    """,
    tags=("curation", "north-star", "sampling"),
)
def sample_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N-per-group sampling (balanced eval subsets): rank docs
    within each language by md5 order — a deterministic shuffle — and keep
    the first N.

    The rank<=N predicate is pushed into the window operator by Spark's
    WindowGroupLimit rule (each partition keeps a running top-N heap
    before the shuffle), so the full groups are never materialized — the
    map side already drops everything beyond N per (partition, lang).
    """
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "doc_id", "lang", F.row_number().over(w).cast("long").alias("sample_rank")
        )
        .filter(F.col("sample_rank") <= PER_GROUP_N)
    )


@register(
    "cdc_orders_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_cents,
             1 AS src_seq
      FROM orders),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             (CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 11) // 10
               AS price_cents,
             2 AS src_seq
      FROM orders WHERE o_orderkey % 10 = 0),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                       ORDER BY src_seq DESC) AS rn FROM u)
    SELECT o_orderkey, o_orderstatus, price_cents, src_seq
    FROM r WHERE rn = 1
    """,
    tags=("curation", "cdc", "upsert"),
)
def cdc_orders_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins merge (CDC upsert): apply an update batch over a base
    table by sequence number — the batch-SQL formulation of MERGE INTO.
    The update batch here is derived deterministically (every 10th order
    re-priced +10%, exact integer cents) so the oracle can replay it.

    100 TB posture: one shuffle on the merge key (window + rn=1). In
    production the same logic runs through a storage layer's MERGE
    (Delta/Iceberg) — this operator IS that semantics, engine-side, for
    plain parquet.

    Money math: prices go through exact DECIMAL(12,2) → integer cents;
    the +10% is ``cents * 11 div 10`` in BIGINT — no float ever touches
    the ledger, so cross-engine hashes match bit-for-bit.
    """
    orders = load_table(spark, "orders", sf_dir)
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        cents.alias("price_cents"),
        F.lit(1).alias("src_seq"),
    )
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.expr(
            "(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 11) div 10"
        ).alias("price_cents"),
        F.lit(2).alias("src_seq"),
    )
    merged = base.unionByName(upd)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("src_seq").desc())
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "o_orderstatus", "price_cents", "src_seq")
    )


MIX_BUDGET = 10_000  # target token budget for the mixed corpus


@register(
    "corpus_mix_allocation",
    oracle=f"""
    WITH g AS (
      SELECT lang,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      FROM documents GROUP BY lang),
    calc AS (
      SELECT lang, total_tokens,
             ({MIX_BUDGET} * total_tokens)
               // SUM(total_tokens) OVER () AS base_alloc,
             ({MIX_BUDGET} * total_tokens)
               % SUM(total_tokens) OVER () AS remainder
      FROM g),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY remainder DESC, lang) AS rem_rank,
             {MIX_BUDGET} - SUM(base_alloc) OVER () AS leftover
      FROM calc)
    SELECT lang, total_tokens,
           CAST(base_alloc + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
             AS BIGINT) AS alloc_tokens
    FROM ranked
    """,
    tags=("curation", "north-star", "mixing"),
)
def corpus_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing: split a global token budget across
    languages proportionally to their corpus mass, using LARGEST-REMAINDER
    apportionment — allocations are integers, sum EXACTLY to the budget,
    and every step is integer arithmetic (no float rounding to disagree
    across engines; the allocation is auditable arithmetic, not an RNG).

    Scale shape: one aggregation over the corpus (map-side partial sums),
    then all apportionment windows run on the GROUP relation — |langs|
    rows — so the allocation logic is free at any corpus size."""
    docs = load_table(spark, "documents", sf_dir)
    g = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_tokens")
    )
    w_all = Window.partitionBy()
    calc = g.select(
        "lang",
        "total_tokens",
        F.expr(
            f"({MIX_BUDGET} * total_tokens) div sum(total_tokens) over ()"
        ).alias("base_alloc"),
        (
            (F.lit(MIX_BUDGET) * F.col("total_tokens"))
            % F.sum("total_tokens").over(w_all)
        ).alias("remainder"),
    )
    ranked = calc.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("remainder").desc(), "lang"))
        .alias("rem_rank"),
        (F.lit(MIX_BUDGET) - F.sum("base_alloc").over(w_all)).alias("leftover"),
    )
    return ranked.select(
        "lang",
        "total_tokens",
        (
            F.col("base_alloc")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_tokens"),
    )


SHUFFLE_SEED = 42
SHUFFLE_PARTITIONS = 16


@register(
    "training_shuffle_order",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SEED}') AS k
      FROM documents)
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT) AS shuffle_pos
    FROM keyed
    """,
    tags=("curation", "north-star", "shuffle"),
)
def training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-data shuffle: every doc gets a
    reproducible pseudo-random position (rank of md5(doc_id:seed)) — the
    'seeded epoch shuffle' a training pipeline needs so that run N and a
    restarted run N read the corpus in the SAME order, with no RNG state.

    The global rank is computed the SCALABLE way, not with a
    single-partition window: range-repartition by key, rank locally
    within each sorted partition, then add per-partition offsets (a
    partition-count-sized prefix sum, broadcast back). No stage ever
    holds more than one partition's rows; the only full-data movement is
    the one range exchange any total order requires. The result is
    boundary-independent: positions depend only on the total order of
    the (unique) md5 keys, not where the range sampler cut."""
    docs = load_table(spark, "documents", sf_dir)
    keyed = docs.select(
        "doc_id",
        F.lit(0).alias("_tok"),  # rank-only use of the shared layout primitive
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{SHUFFLE_SEED}"))).alias("k"),
    )
    laid = ranked_prefix_layout(keyed, ("k", "doc_id"), "_tok", SHUFFLE_PARTITIONS)
    return laid.select("doc_id", F.col("global_rank").alias("shuffle_pos"))


@register(
    "incremental_priority_rollup",
    # The ORACLE recomputes the view from scratch over the upserted table;
    # the Spark side maintains it incrementally (base aggregate + delta
    # aggregate over only the update batch). Hash equality between the two
    # IS the incremental-view-maintenance correctness proof.
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_cents
      FROM orders),
    upserted AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 10 = 0
                  THEN (price_cents * 11) // 10 ELSE price_cents END AS price_cents
      FROM base)
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(price_cents) AS BIGINT) AS total_cents
    FROM upserted
    GROUP BY 1
    """,
    tags=("curation", "cdc", "ivm", "north-star"),
)
def incremental_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the per-priority revenue rollup after
    the CDC re-pricing batch (same deterministic batch as
    ``cdc_orders_upsert``: every 10th order +10%), computed WITHOUT
    re-aggregating the merged table. The maintained view is

        base_aggregate ⊕ delta_aggregate

    where the delta side aggregates ONLY the update batch's (new − old)
    cents per group — the additive-measure IVM algebra (counts unchanged
    by an upsert; SUM absorbs signed deltas). The oracle recomputes the
    view from the fully-merged table, so a hash match proves the
    incremental path lands on exactly the recomputed answer.

    100 TB posture: this is the whole POINT of IVM — the base aggregate is
    computed once (or itself maintained), and each CDC batch costs one
    aggregation of |batch| rows + a |groups|-sized merge join, never a
    fact-table re-scan. All ledger math in BIGINT cents: exact, order-
    independent, bit-portable."""
    orders = load_table(spark, "orders", sf_dir)
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    base = orders.select("o_orderpriority", cents.alias("price_cents"))
    base_agg = base.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("price_cents").cast("long").alias("base_cents"),
    )
    # delta over the update batch only: new − old, per group
    delta = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderpriority").alias("priority"),
            (
                F.expr(
                    "(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 11)"
                    " div 10"
                )
                - cents
            ).alias("d_cents"),
        )
        .groupBy("priority")
        .agg(F.sum("d_cents").cast("long").alias("delta_cents"))
    )
    return base_agg.join(delta, "priority", "left").select(
        "priority",
        "n_orders",
        (F.col("base_cents") + F.coalesce(F.col("delta_cents"), F.lit(0)))
        .cast("long")
        .alias("total_cents"),
    )


def ranked_prefix_layout(
    df: DataFrame,
    key_cols: tuple[str, ...],
    tok_col: str,
    n_partitions: int = SHUFFLE_PARTITIONS,
) -> DataFrame:
    """Global rank AND global running token sum along a total order, in
    ONE range exchange — the scalable primitive behind both the seeded
    epoch shuffle and corpus layout/packing.

    Range-partition by the sort key, compute per-partition local rank and
    local exclusive prefix sum, then add per-partition offsets (an
    exclusive prefix sum over the partition-count-sized (rows, tokens)
    table, broadcast back). No stage holds more than one partition's rows;
    the result is independent of where the range sampler cut."""
    from pyspark.sql.window import Window

    parted = (
        df.repartitionByRange(n_partitions, *key_cols)
        .sortWithinPartitions(*key_cols)
        .withColumn("pid", F.spark_partition_id())
    )
    wloc = Window.partitionBy("pid").orderBy(*key_cols)
    wcum = wloc.rowsBetween(Window.unboundedPreceding, -1)
    local = parted.withColumn("lr", F.row_number().over(wloc)).withColumn(
        "lcum", F.coalesce(F.sum(tok_col).over(wcum), F.lit(0))
    )
    wpid = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(F.count("*").alias("_n"), F.sum(tok_col).alias("_s"))
        .select(
            "pid",
            F.coalesce(F.sum("_n").over(wpid), F.lit(0)).alias("roff"),
            F.coalesce(F.sum("_s").over(wpid), F.lit(0)).alias("toff"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("global_rank", (F.col("lr") + F.col("roff")).cast("long"))
        .withColumn("cum_before", (F.col("lcum") + F.col("toff")).cast("long"))
        .drop("pid", "lr", "lcum", "roff", "toff")
    )


def _manifest_oracle() -> str:
    from imdb_mapreduce_spark.pipeline.dedup import (
        CLUSTERS_SQL,
        KEEP_MAX_TOKENS,
        KEEP_MIN_TOKENS,
        KEEP_MIN_TTR,
    )
    from imdb_mapreduce_spark.pipeline.text import PACK_CAPACITY

    return f"""
    WITH kept AS (
      SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tok
      FROM documents d
      LEFT JOIN ({CLUSTERS_SQL}) c ON c.doc_id = d.doc_id
      WHERE NOT (c.component IS NOT NULL AND c.component <> d.doc_id)
        AND len(string_split(d.text, ' ')) >= {KEEP_MIN_TOKENS}
        AND len(string_split(d.text, ' ')) <= {KEEP_MAX_TOKENS}
        AND CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
              / CAST(len(string_split(d.text, ' ')) AS DOUBLE) >= {KEEP_MIN_TTR}),
    keyed AS (
      SELECT doc_id, n_tok,
             md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SEED}') AS k
      FROM kept),
    laid AS (
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             ROW_NUMBER() OVER (ORDER BY k, doc_id) AS shuffle_pos,
             COALESCE(SUM(n_tok) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM keyed)
    SELECT doc_id, CAST(shuffle_pos AS BIGINT) AS shuffle_pos, n_tok,
           CAST(cum_before // {PACK_CAPACITY} AS BIGINT) AS pack_id,
           CAST(cum_before % {PACK_CAPACITY} AS BIGINT) AS offset_in_pack
    FROM laid
    """


@register(
    "corpus_build_manifest",
    oracle=_manifest_oracle(),
    tags=("curation", "north-star", "pipeline", "end-to-end"),
)
def corpus_build_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus build: keep-list (near-dup clusters + quality
    gates) → seeded global shuffle → head-to-tail token packing, in one
    composed plan. Each kept document gets its reproducible epoch position
    and its training-pack assignment (pack id + starting offset) — the
    manifest a 100 TB pre-training data build hands to the trainer.

    Composition: ``corpus_keep_list`` (cluster map from the silver layer),
    whitespace token counts, then :func:`ranked_prefix_layout` — global
    rank and running token sum in ONE range exchange (no single-partition
    window anywhere). The DuckDB oracle recomposes all three stages as
    plain SQL (recursive-CTE clusterer → window rank/cumsum), so the
    entire pipeline, not just its pieces, is hash-verified."""
    from imdb_mapreduce_spark.pipeline.dedup import corpus_keep_list
    from imdb_mapreduce_spark.pipeline.text import PACK_CAPACITY

    keep = corpus_keep_list(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    docs = load_table(spark, "documents", sf_dir)
    kept = docs.join(keep, "doc_id").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":{SHUFFLE_SEED}"))
        ).alias("k"),
    )
    laid = ranked_prefix_layout(kept, ("k", "doc_id"), "n_tok")
    return laid.select(
        "doc_id",
        F.col("global_rank").alias("shuffle_pos"),
        "n_tok",
        F.expr(f"cum_before div {PACK_CAPACITY}").cast("long").alias("pack_id"),
        F.pmod("cum_before", F.lit(PACK_CAPACITY)).cast("long").alias("offset_in_pack"),
    )


@register(
    "packed_training_rows",
    oracle=f"""
    WITH manifest AS ({_manifest_oracle()}),
    joined AS (
      SELECT m.pack_id, m.shuffle_pos, d.text
      FROM manifest m JOIN documents d ON d.doc_id = m.doc_id)
    SELECT pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) + COUNT(*) - 1 AS BIGINT) AS packed_chars,
           md5(string_agg(text, CHR(10) ORDER BY shuffle_pos)) AS packed_md5
    FROM joined
    GROUP BY pack_id
    """,
    tags=("curation", "north-star", "pipeline", "end-to-end"),
)
def packed_training_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer-facing artifact the manifest promises: one row per
    training pack, documents concatenated newline-separated in shuffle
    order. Emitted as (n_docs, char count, md5 of the packed text) — the
    fingerprint proves BYTE-EXACT pack content cross-engine without
    hashing megabyte strings through the driver compare.

    Shape: the manifest plan (keep → shuffle → pack) feeds one doc-keyed
    join back to the text and ONE pack-keyed aggregation; packs are
    ~2048-token units, so group sizes are bounded by
    construction — the concat never exceeds a few pack-capacities of
    text regardless of corpus size (the property that makes the
    collect_list safe where an unbounded per-key concat would not be)."""
    manifest = corpus_build_manifest(spark, sf_dir).select(
        "doc_id", "shuffle_pos", "pack_id"
    )
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    joined = manifest.join(docs, "doc_id")
    packed = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("shuffle_pos", "text"))),
            lambda s: s["text"],
        ),
        "\n",
    )
    return joined.groupBy("pack_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum(F.length("text")) + F.count("*") - 1).cast("long").alias("packed_chars"),
        F.md5(packed).alias("packed_md5"),
    )


LEAK_JACCARD = 0.3  # near-dup floor for the cross-split leakage tier


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN md5(text) < '{SPLIT_TRAIN_END}' THEN 'train'
                  WHEN md5(text) < '{SPLIT_VAL_END}' THEN 'val'
                  ELSE 'test' END AS split,
             md5(text) AS raw_fp
      FROM documents),
    test_n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test FROM s WHERE split = 'test'),
    raw_pairs AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2
      FROM s a JOIN s b ON a.raw_fp = b.raw_fp AND a.doc_id < b.doc_id),
    lists AS MATERIALIZED (
      SELECT doc_id,
             {SHINGLE_LIST_SQL} AS shl
      FROM documents),
    sh AS (
      SELECT doc_id, len(shl) AS n_shingles, unnest(shl) AS sh FROM lists),
    jac_pairs AS (
      SELECT doc1, doc2 FROM (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               CAST(COUNT(*) AS DOUBLE)
                 / CAST(ANY_VALUE(a.n_shingles) + ANY_VALUE(b.n_shingles)
                        - COUNT(*) AS DOUBLE) AS j
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      WHERE j >= {LEAK_JACCARD}),
    graded AS (
      SELECT tier, p.doc1, p.doc2, sa.split AS s1, sb.split AS s2
      FROM (SELECT 'raw_exact' AS tier, * FROM raw_pairs
            UNION ALL SELECT 'jaccard_{LEAK_JACCARD}', * FROM jac_pairs) p
      JOIN s sa ON sa.doc_id = p.doc1
      JOIN s sb ON sb.doc_id = p.doc2),
    tiers AS (SELECT 'raw_exact' AS tier UNION ALL
              SELECT 'jaccard_{LEAK_JACCARD}')
    SELECT t.tier,
           CAST(COUNT(g.doc1) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN g.s1 <> g.s2 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_cross_pairs,
           CAST(COUNT(DISTINCT CASE
                  WHEN g.s1 = 'test' AND g.s2 = 'train' THEN g.doc1
                  WHEN g.s2 = 'test' AND g.s1 = 'train' THEN g.doc2
                END) AS BIGINT) AS n_test_docs_leaked,
           ANY_VALUE(tn.n_test) AS n_test_docs,
           CAST(COUNT(DISTINCT CASE
                  WHEN g.s1 = 'test' AND g.s2 = 'train' THEN g.doc1
                  WHEN g.s2 = 'test' AND g.s1 = 'train' THEN g.doc2
                END) AS DOUBLE) / CAST(ANY_VALUE(tn.n_test) AS DOUBLE)
             AS test_leak_fraction
    FROM tiers t
    CROSS JOIN test_n tn
    LEFT JOIN graded g ON g.tier = t.tier
    GROUP BY t.tier
    """,
    tags=("curation", "north-star", "dedup", "audit"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit — the eval-integrity failure mode every
    benchmark pipeline must measure: near-duplicate pairs that straddle
    split boundaries. Two tiers graded side by side:

    - ``raw_exact``: byte-identical pairs across splits — 0 BY
      CONSTRUCTION here, because ``dataset_split_assignment`` cuts splits
      on the content hash itself (identical bytes → identical split).
      The zero is the audit's positive control: it PROVES that design
      choice, and catches any future switch to doc-id/random splits.
    - ``jaccard_{LEAK_JACCARD}``: near-dup pairs (shingle Jaccard ≥
      {LEAK_JACCARD}) cross splits freely — content-hash splitting
      cannot see paraphrases (13 cross-split pairs at sf0.01). The
      ``n_test_docs_leaked`` / ``test_leak_fraction`` columns are the
      action signal: those test docs need re-assignment or removal
      (LLM practice: dedup-THEN-split, or split by dup-cluster id from
      ``dedup_clusters``).

    Plan shape: the split map is one projection of the doc table; tier
    pair sets reuse the exact-fingerprint join and the thresholded
    shingle join (the same tiers the dedup family runs); grading is two
    equi-joins onto the pair lists, rolled down to one row per tier
    before anything is broadcast — only the 2-row tier list and the
    1-row test-count frame ride broadcasts/cross joins."""
    docs = load_table(spark, "documents", sf_dir)
    from imdb_mapreduce_spark.pipeline.dedup import jaccard_pairs_min_threshold

    s = docs.select(
        "doc_id",
        F.when(F.md5("text") < SPLIT_TRAIN_END, "train")
        .when(F.md5("text") < SPLIT_VAL_END, "val")
        .otherwise("test")
        .alias("split"),
        F.md5("text").alias("raw_fp"),
    )
    test_n = s.filter(F.col("split") == "test").agg(
        F.count("*").cast("long").alias("n_test")
    )
    a = s.select(F.col("doc_id").alias("doc1"), F.col("raw_fp").alias("f1"))
    b = s.select(F.col("doc_id").alias("doc2"), F.col("raw_fp").alias("f2"))
    raw_pairs = a.join(
        b, (F.col("f1") == F.col("f2")) & (F.col("doc1") < F.col("doc2"))
    ).select("doc1", "doc2")
    jac_pairs = jaccard_pairs_min_threshold(docs, LEAK_JACCARD).select(
        "doc1", "doc2"
    )
    pairs = raw_pairs.withColumn("tier", F.lit("raw_exact")).unionByName(
        jac_pairs.withColumn("tier", F.lit(f"jaccard_{LEAK_JACCARD}"))
    )
    sa = s.select(F.col("doc_id").alias("doc1"), F.col("split").alias("s1"))
    sb = s.select(F.col("doc_id").alias("doc2"), F.col("split").alias("s2"))
    # Both the pair set and the split map grow with corpus size/dup rate,
    # so neither side gets a forced broadcast — plain equi-joins (AQE may
    # still broadcast at runtime when a side turns out small).
    graded = pairs.join(sa, "doc1").join(sb, "doc2")
    tiers = spark.createDataFrame(
        [("raw_exact",), (f"jaccard_{LEAK_JACCARD}",)], ["tier"]
    )
    leaked_doc = F.when(
        (F.col("s1") == "test") & (F.col("s2") == "train"), F.col("doc1")
    ).when((F.col("s2") == "test") & (F.col("s1") == "train"), F.col("doc2"))
    # Roll the (unbounded) pair set down to one row per tier FIRST, then
    # attach the 2-row tier list and 1-row test count — only constant-size
    # frames are ever broadcast.
    per_tier = graded.groupBy("tier").agg(
        F.count("doc1").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("s1") != F.col("s2"), 1).otherwise(0))
        .cast("long")
        .alias("n_cross_pairs"),
        F.countDistinct(leaked_doc).cast("long").alias("n_test_docs_leaked"),
    )
    return (
        tiers.join(F.broadcast(per_tier), "tier", "left")
        .crossJoin(F.broadcast(test_n))
        .select(
            "tier",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_cross_pairs", F.lit(0))
            .cast("long")
            .alias("n_cross_pairs"),
            F.coalesce("n_test_docs_leaked", F.lit(0))
            .cast("long")
            .alias("n_test_docs_leaked"),
            F.col("n_test").alias("n_test_docs"),
            (
                F.coalesce("n_test_docs_leaked", F.lit(0)).cast("double")
                / F.col("n_test").cast("double")
            ).alias("test_leak_fraction"),
        )
    )


@register(
    "snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc
      FROM orders),
    v2 AS (
      -- next version: every 10th re-priced +10% (status 'U'), every 100th
      -- deleted, every 250th cloned to a fresh key (insert)
      SELECT k,
             CASE WHEN k % 10 = 0 THEN 'U' ELSE st END AS st,
             CASE WHEN k % 10 = 0 THEN (pc * 11) // 10 ELSE pc END AS pc
      FROM v1 WHERE k % 100 <> 0
      UNION ALL
      SELECT k + (SELECT MAX(o_orderkey) + 1 FROM orders), st, pc
      FROM v1 WHERE k % 250 = 0),
    d AS (
      SELECT COALESCE(v2.k, v1.k) AS o_orderkey,
             CASE WHEN v1.k IS NULL THEN 'added'
                  WHEN v2.k IS NULL THEN 'removed'
                  WHEN v1.st <> v2.st OR v1.pc <> v2.pc THEN 'changed'
                  ELSE 'unchanged' END AS change_type,
             v1.st AS old_status, v2.st AS new_status,
             v1.pc AS old_price_cents, v2.pc AS new_price_cents
      FROM v1 FULL OUTER JOIN v2 ON v2.k = v1.k)
    SELECT o_orderkey, change_type,
           COALESCE(old_status, '') AS old_status,
           COALESCE(new_status, '') AS new_status,
           COALESCE(old_price_cents, -1) AS old_price_cents,
           COALESCE(new_price_cents, -1) AS new_price_cents
    FROM d WHERE change_type <> 'unchanged'
    """,
    tags=("curation", "versioning", "diff", "north-star"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version DIFF — the change-data-feed read every lakehouse
    format exposes (`Delta CDF / Iceberg changelog`), computed engine-side
    for plain parquet snapshots: FULL OUTER join of two versions on the
    primary key, rows classified added / removed / changed (unchanged rows
    — the overwhelming majority — are dropped before anything is
    returned). The second version is derived deterministically from the
    first (every 10th re-priced via exact integer cents, every 100th
    deleted, every 250th cloned to a fresh key) so the oracle replays it
    exactly; in production v2 is just the next snapshot directory. Clone
    keys are offset by MAX(o_orderkey)+1 — read from the parquet footer
    statistics, zero Spark jobs — so they stay collision-free at any
    scale factor (a fixed constant would collide once real keys pass it,
    and keys start at 0, so the +1 keeps clone 0 off the max key itself).

    100 TB posture: one co-partitioned full-outer join on the key (with
    both snapshots bucketed by key — ``sources/storage.write_bucketed`` —
    it degenerates to a zip of co-located files, zero shuffle), and the
    output is proportional to the CHANGE volume, not the table. NULL
    sentinels ('', −1) keep the emission hash-portable."""
    from imdb_mapreduce_spark.sources.star import parquet_column_max

    orders = load_table(spark, "orders", sf_dir)
    key_offset = parquet_column_max(f"{sf_dir}/orders.parquet", "o_orderkey")
    if key_offset is None:  # footer lacks stats → one scalar agg job
        key_offset = orders.agg(F.max("o_orderkey")).collect()[0][0]
    key_offset = int(key_offset) + 1
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    v1 = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        cents.alias("pc"),
    )
    v2 = (
        v1.filter(F.col("k") % 100 != 0)
        .select(
            "k",
            F.when(F.col("k") % 10 == 0, "U").otherwise(F.col("st")).alias("st"),
            F.when(F.col("k") % 10 == 0, F.expr("(pc * 11) div 10"))
            .otherwise(F.col("pc"))
            .alias("pc"),
        )
        .unionByName(
            v1.filter(F.col("k") % 250 == 0).select(
                (F.col("k") + F.lit(key_offset)).alias("k"), "st", "pc"
            )
        )
    )
    a = v1.alias("v1")
    b = v2.alias("v2")
    d = a.join(b, F.col("v2.k") == F.col("v1.k"), "full_outer").select(
        F.coalesce(F.col("v2.k"), F.col("v1.k")).alias("o_orderkey"),
        F.when(F.col("v1.k").isNull(), "added")
        .when(F.col("v2.k").isNull(), "removed")
        .when(
            (F.col("v1.st") != F.col("v2.st")) | (F.col("v1.pc") != F.col("v2.pc")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce(F.col("v1.st"), F.lit("")).alias("old_status"),
        F.coalesce(F.col("v2.st"), F.lit("")).alias("new_status"),
        F.coalesce(F.col("v1.pc"), F.lit(-1)).alias("old_price_cents"),
        F.coalesce(F.col("v2.pc"), F.lit(-1)).alias("new_price_cents"),
    )
    return d.filter(F.col("change_type") != "unchanged")


# --- weighted deterministic sampling (r05 session 3) -----------------------

WSAMPLE_CAP = 256  # weight cap: docs at/above this token count always kept
WSAMPLE_UNIT = (1 << 60) // WSAMPLE_CAP  # exact hash-space per weight unit


@register(
    "weighted_sample_tokens",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             least(len(string_split(text, ' ')), {WSAMPLE_CAP}) AS wt,
             ('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(wt AS BIGINT) AS weight
    FROM w
    WHERE h < wt * CAST({WSAMPLE_UNIT} AS BIGINT)
    """,
    tags=("curation", "north-star", "sampling", "weighted"),
)
def weighted_sample_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED deterministic Bernoulli sampling: each document kept with
    probability proportional to its token count (P = min(n_tokens,
    {WSAMPLE_CAP})/{WSAMPLE_CAP}) — the token-budget-proportional
    selection a pre-training mix uses so sampled TOKEN mass, not doc
    count, tracks the corpus. Same determinism contract as the rest of
    the sampling family (``content_sample``, ``stratified_sample_hash``):
    no RNG anywhere — the keep decision is md5(doc_id) against an EXACT
    integer threshold wt * (2^60 div {WSAMPLE_CAP}), so the sample is
    reproducible on any engine, any partitioning, any run, and the
    inclusion probabilities are exact rationals, not float comparisons.

    Scale posture: pure projection + filter (no shuffle at all); the
    salted 'ws:' hash domain is independent of the split/content hashes,
    so this sample composes with the split assignment without
    correlation."""
    docs = load_table(spark, "documents", sf_dir)
    n_tok = F.size(F.split("text", " "))
    wt = F.least(n_tok, F.lit(WSAMPLE_CAP))
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        )
        .cast("bigint")
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tok.cast("long").alias("n_tokens"),
            wt.cast("long").alias("weight"),
            h.alias("_h"),
        )
        .filter(F.col("_h") < F.col("weight") * F.lit(WSAMPLE_UNIT))
        .drop("_h")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus (r06)
# ---------------------------------------------------------------------------

INCR_BATCH_MOD = 10  # doc_id % 10 == 0 plays the "newly arrived" batch
INCR_JACCARD_THR = 0.1


def _incr_dedup_oracle() -> str:
    from imdb_mapreduce_spark.pipeline.dedup import (  # noqa: F401
        SHINGLE_WORDS,
        STOP_SHINGLE_MAX_FREQ,
    )

    return f"""
    WITH batch AS (SELECT * FROM documents WHERE doc_id % {INCR_BATCH_MOD} = 0),
    corpus AS (SELECT * FROM documents WHERE doc_id % {INCR_BATCH_MOD} <> 0),
    exact AS (
      SELECT DISTINCT b.doc_id
      FROM batch b JOIN corpus c
        ON md5(lower(trim(b.text))) = md5(lower(trim(c.text)))),
    blists AS MATERIALIZED (
      SELECT doc_id,
             {SHINGLE_LIST_SQL} AS shl
      FROM batch),
    clists AS MATERIALIZED (
      SELECT doc_id,
             {SHINGLE_LIST_SQL} AS shl
      FROM corpus),
    bsh AS (SELECT doc_id, len(shl) AS n_sh, unnest(shl) AS sh FROM blists),
    csh_all AS (SELECT doc_id, len(shl) AS n_sh, unnest(shl) AS sh FROM clists),
    keep AS (
      SELECT sh FROM csh_all GROUP BY sh
      HAVING COUNT(*) <= {STOP_SHINGLE_MAX_FREQ}),
    csh AS (SELECT c.* FROM csh_all c SEMI JOIN keep k ON c.sh = k.sh),
    near AS (
      SELECT DISTINCT doc_id FROM (
        SELECT b.doc_id, c.doc_id AS c_id,
               CAST(COUNT(*) AS DOUBLE)
                 / CAST(ANY_VALUE(b.n_sh) + ANY_VALUE(c.n_sh) - COUNT(*) AS DOUBLE)
                 AS jaccard
        FROM bsh b JOIN csh c ON b.sh = c.sh
        GROUP BY b.doc_id, c.doc_id) t
      WHERE jaccard >= {INCR_JACCARD_THR})
    SELECT b.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict
    FROM batch b
    LEFT JOIN exact e ON e.doc_id = b.doc_id
    LEFT JOIN near n ON n.doc_id = b.doc_id
    """


@register(
    "incremental_dedup_verdicts",
    oracle=_incr_dedup_oracle(),
    tags=("curation", "dedup", "north-star", "incremental"),
)
def incremental_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape every continuously-crawled corpus
    needs: a NEWLY ARRIVED batch is checked against the EXISTING corpus
    (not against itself), each new doc labeled ``exact_dup`` (fingerprint
    already present), ``near_dup`` (word-shingle Jaccard >= {thr} with
    some existing doc), or ``new``. Batch = ``doc_id % {mod} == 0`` so the
    oracle can replay the split.

    Scale posture: the exact tier is a fingerprint left-semi join (the
    corpus side reduces to distinct fingerprints — at 100 TB a bucketed
    silver fingerprint table, making arrival checks shuffle-free); the
    near tier joins batch shingles against corpus shingles — linear in
    shared-shingle pairs and BLOCKED by the batch being small relative to
    the corpus (the asymmetry is the whole point: cost ~ |batch| x
    avg-postings, never corpus x corpus), with the corpus postings under
    the same stop-shingle frequency cap as ``ngram_jaccard_capped`` (a
    boilerplate shingle in f corpus docs would fan each batch occurrence
    into f rows; dropping capped shingles makes the score a Jaccard LOWER
    bound — precision-preserving, the documented 100 TB guard, mirrored
    in the oracle). Verdict assembly is two left joins against distinct
    bounded id sets."""
    from imdb_mapreduce_spark.pipeline.dedup import (
        STOP_SHINGLE_MAX_FREQ,
        exploded_shingles,
        fingerprint,
    )

    docs = load_table(spark, "documents", sf_dir)
    batch = docs.filter(F.col("doc_id") % INCR_BATCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % INCR_BATCH_MOD != 0)

    corpus_fps = corpus.select(fingerprint().alias("fp")).distinct()
    exact = (
        batch.select("doc_id", fingerprint().alias("fp"))
        .join(corpus_fps, "fp", "left_semi")
        .select("doc_id")
    )

    bsh = exploded_shingles(batch)
    # Stop-shingle cap on the corpus postings (window form — one exchange,
    # the measured-cheaper shape from ngram_jaccard_capped).
    csh = (
        exploded_shingles(corpus)
        .withColumn("_f", F.count("*").over(Window.partitionBy("sh")))
        .filter(F.col("_f") <= STOP_SHINGLE_MAX_FREQ)
        .select(
            F.col("doc_id").alias("c_id"),
            F.col("n_shingles").alias("c_n_sh"),
            F.col("sh"),
        )
    )
    near = (
        bsh.join(csh, "sh")
        .groupBy("doc_id", "c_id")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("n_shingles").alias("b_n"),
            F.first("c_n_sh").alias("c_n"),
        )
        .filter(
            F.col("shared").cast("double")
            / (F.col("b_n") + F.col("c_n") - F.col("shared")).cast("double")
            >= INCR_JACCARD_THR
        )
        .select("doc_id")
        .distinct()
    )

    return (
        batch.select("doc_id")
        .join(
            F.broadcast(exact.withColumn("_ex", F.lit(True))), "doc_id", "left"
        )
        .join(
            F.broadcast(near.withColumn("_nr", F.lit(True))), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.when(F.col("_ex"), F.lit("exact_dup"))
            .when(F.col("_nr"), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )


incremental_dedup_verdicts.__doc__ = incremental_dedup_verdicts.__doc__.format(
    thr=INCR_JACCARD_THR, mod=INCR_BATCH_MOD
)
