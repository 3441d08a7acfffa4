"""Similarity search over the ``embeddings`` table ([NORTH-STAR]).

Baseline: brute-force cosine top-k — a broadcast-join of the (small) query
set against the full corpus, dot products computed JVM-side with
``zip_with``/``aggregate`` (whole-stage codegen, no Python in the hot
path). Scale path: random-hyperplane LSH bucketing so each query only
scores its bucket (sub-linear candidates), verified for recall in tests.

Numeric parity note: dot products are computed as a SEQUENTIAL double fold
(``aggregate`` with a double accumulator) — bit-identical to the DuckDB
oracle's explicit ``list_reduce`` fold. DuckDB's built-in
``list_dot_product``/``list_cosine_similarity`` accumulate in float32 and
do NOT match (verified empirically) — the oracle avoids them.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdb_mapreduce_spark.concurrency import overlap
from imdb_mapreduce_spark.plans.registry import register
from imdb_mapreduce_spark.sources.star import load_table

N_QUERIES = 10  # vec_id < 10 serve as the query set
TOP_K = 5


# Distinct fold strings the memo keeps: a registry pass builds a few
# dozen (dot/norm folds, the 16 projection rows, each quantizer's pivots);
# the pivot folds embed corpus vectors, so a driver serving many corpora
# would otherwise grow it without bound.
EXPR_MEMO_SIZE = 1024


def _expr_memo(sql: str) -> Column:
    """``F.expr`` memoized on the SQL text (r16 opt, guide §1.2 driver
    work): the dot/norm/projection builders re-parse the same multi-KB
    constant fold strings on EVERY query build — pure driver-side
    construction cost (a Column is an immutable expression tree, reusable
    across plans; the codegen cache plays the same role one layer down).
    Keyed by the exact SQL text, so two different expressions can never
    collide, and by the live py4j gateway, whose JVM the Column handle
    lives in: a session restart on the same gateway keeps its entries, a
    restarted backend gets fresh ones."""
    return _expr_on(SparkContext._gateway, sql)


@lru_cache(maxsize=EXPR_MEMO_SIZE)
def _expr_on(gateway, sql: str) -> Column:
    return F.expr(sql)

# Sequential double fold — matches the oracle's list_reduce fold bit-exactly.
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)

_SQL_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)


def dot(a: str, b: str) -> Column:
    return _expr_memo(_DOT.format(a=a, b=b))


def norm(a: str) -> Column:
    return F.sqrt(_expr_memo(_DOT.format(a=a, b=a)))


# LSH defaults, tuned at sf0.01 against ann_cosine_topk (see
# tests/test_pipeline.py): the synthetic corpus has near-orthogonal true
# neighbors (top-5 cosine 0.26-0.49), the hard regime for sign-LSH. 12
# tables x 5 planes measures recall 0.72 while scoring ~1/3 of the
# corpus per query; real near-dup corpora (cosine > 0.9) reach far higher
# recall at far lower probe cost with the same knobs.
LSH_TABLES = 12
LSH_PLANES = 5


def _hyperplanes(
    n_tables: int, planes_per_table: int, seed: int = 42, dim: int = 64
) -> list:
    """Seeded hyperplanes, one (planes_per_table × dim) block per table.

    Deterministic literals (seeded numpy) baked into the plan — no
    driver-side state, trivially re-derivable on any executor, and
    re-expressible verbatim in the DuckDB oracle (same repr round-trips
    to the same double in both engines).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    return [rng.standard_normal((planes_per_table, dim)) for _ in range(n_tables)]


def _dot_unrolled(a: str, b: str, dim: int = 64) -> Column:
    """``dot`` with the fold unrolled to an explicit left-associated sum —
    the identical addition sequence ((0+t1)+t2)+…, so bit-identical to the
    fold and to the oracle's unrolled SQL. Used for ONCE-PER-VECTOR work
    (norms); for per-pair scoring the fold is faster (ANSI bounds checks
    on 2×dim element_at calls outweigh the lambda overhead — measured),
    and unrolling many planes at once blows up Catalyst analysis (see
    :func:`_bucket_col`).

    Built as ONE parsed-and-memoized SQL string (r16 opt): the previous
    Column-arithmetic loop issued ~4·dim py4j round trips per call —
    0.76 s of the 1.0 s embedding_random_projection bench row was this
    builder alone (cProfile). ``CAST(0 AS DOUBLE) + Σ (CAST(element_at(a,
    i) AS DOUBLE) * CAST(element_at(b, i) AS DOUBLE))`` parses
    left-associated to the identical Add/Mult/Cast/ElementAt tree the
    loop produced, so every downstream double — and the oracle hash —
    is unchanged (165/165 gate re-run)."""
    terms = " + ".join(
        f"(CAST(element_at({a}, {i}) AS DOUBLE)"
        f" * CAST(element_at({b}, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    return _expr_memo(f"CAST(0 AS DOUBLE) + {terms}")


def _bucket_col(planes, col: str = "embedding") -> Column:
    """Sign-pattern bucket id of ``col`` for one table's planes (Spark).

    Projections stay as ``aggregate(zip_with(...))`` folds: they run once
    per VECTOR (not per pair), and unrolling all planes×dim terms into
    one expression tree sends Catalyst analysis time through the roof
    (measured: minutes for 60×64 nested Adds vs <1 s of fold runtime).
    """
    bucket = F.lit(0)
    for p_i, plane in enumerate(planes):
        arr = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in plane.tolist())
        proj = F.expr(_DOT.format(a=col, b=f"array({arr})"))
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p_i)).otherwise(F.lit(0))
    return bucket.cast("int")


def _sql_dot_unrolled(a: str, b: str, dim: int = 64) -> str:
    """``_SQL_DOT`` with the fold unrolled to an explicit left-associated
    sum — the identical addition sequence ((0+t1)+t2)+…, so bit-identical
    results, but ~100× faster in DuckDB (no interpreted list lambdas)."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"(CAST(0 AS DOUBLE) + {terms})"


def _bucket_sql(planes, col: str = "embedding") -> str:
    """The same sign-pattern bucket id in DuckDB SQL — identical plane
    literals and the same sequential double-sum, so the sign (and hence
    the bucket) is bit-identical to :func:`_bucket_col`."""
    terms = []
    for p_i, plane in enumerate(planes):
        vals = plane.tolist()
        proj = " + ".join(
            f"CAST({col}[{i + 1}] AS DOUBLE) * CAST({v!r} AS DOUBLE)"
            for i, v in enumerate(vals)
        )
        terms.append(
            f"(CASE WHEN (CAST(0 AS DOUBLE) + {proj}) >= 0"
            f" THEN {1 << p_i} ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_DOT.format(a="q.embedding", b="c.embedding")}
               / (sqrt({_SQL_DOT.format(a="q.embedding", b="q.embedding")})
                  * sqrt({_SQL_DOT.format(a="c.embedding", b="c.embedding")})) AS cosine
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored) t
    WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "north-star", "ann"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: queries broadcast against the corpus, score
    JVM-side, rank with a window. Per-query cost is one corpus scan — the
    correct baseline and the recall oracle for the LSH variant.

    Perf note (r06, VERDICT r05 item 2): the flagged 1.34× r04→r05 drift
    (0.513 s → 0.689 s local min-of-3, sf0.1) is box noise, not a plan
    change — re-measured min-of-5 0.614 s with the intended physical plan
    intact: BroadcastNestedLoopJoin(BuildLeft) on the broadcast query
    side, WindowGroupLimit top-k pushdown (partial per-partition + final),
    and a single Exchange on query_id."""
    emb = load_table(spark, "embeddings", sf_dir)
    # Norms are computed ONCE PER VECTOR in the scan projections (r06:
    # previously both norms were re-folded inside every pair row — 3 folds
    # per pair instead of 1). sqrt(q)*sqrt(c) then divide is the identical
    # double sequence, so the cosine stays bit-identical to the oracle.
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm("embedding").alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


@register(
    "embedding_label_dups",
    oracle=f"""
    SELECT a.vec_id AS vec1, b.vec_id AS vec2,
           {_SQL_DOT.format(a="a.embedding", b="b.embedding")}
             / (sqrt({_SQL_DOT.format(a="a.embedding", b="a.embedding")})
                * sqrt({_SQL_DOT.format(a="b.embedding", b="b.embedding")})) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_SQL_DOT.format(a="a.embedding", b="b.embedding")}
            / (sqrt({_SQL_DOT.format(a="a.embedding", b="a.embedding")})
               * sqrt({_SQL_DOT.format(a="b.embedding", b="b.embedding")})) >= 0.2
    """,
    tags=("similarity", "dedup", "north-star"),
)
def embedding_label_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked on an EXISTING partition key
    (label) — the shape for corpora that already carry a fine-grained
    blocking attribute (shard, source, url-host). With a low-cardinality
    key this is all-pairs within each block (~n²/|labels|): the scale path
    for arbitrary corpora is :func:`embedding_lsh_dups`, which blocks on
    data-independent LSH buckets instead."""
    emb = load_table(spark, "embeddings", sf_dir)
    # r06: one norm fold per VECTOR in the scan projection, one dot fold
    # per PAIR in the join output (was 3 folds per pair). Same double
    # sequence — sqrt(a)*sqrt(b) then divide — so bit-identical cosines.
    withn = emb.select("vec_id", "label", "embedding", norm("embedding").alias("nrm"))
    a = withn.alias("a")
    b = withn.alias("b")
    cos = F.expr(_DOT.format(a="a.embedding", b="b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec1"),
            F.col("b.vec_id").alias("vec2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.2)
    )


DUP_COS = 0.3  # near-dup threshold; synthetic corpus is near-orthogonal


def _lsh_dups_oracle() -> str:
    """DuckDB replica of the bucket-blocked near-dup query: computes the
    same 12 bucket ids per vector (identical plane literals, identical
    fold), pairs rows colliding in ≥1 table, verifies cosine — so the
    approximate pair set matches Spark's bit-for-bit."""
    planes = _hyperplanes(LSH_TABLES, LSH_PLANES)
    buckets = ",\n         ".join(
        f"{_bucket_sql(p)} AS b{t}" for t, p in enumerate(planes)
    )
    # Same plan shape as the Spark side: one hash equi-join per table,
    # distinct over candidate pairs, then ONE cosine fold per candidate.
    # (An OR-of-buckets join condition degrades to an all-pairs nested
    # loop; MATERIALIZED stops DuckDB inlining the 60 bucket folds into
    # the join predicate.)
    per_table = "\n        UNION ALL ".join(
        f"SELECT a.vec_id AS vec1, b.vec_id AS vec2"
        f" FROM buck a JOIN buck b ON a.b{t} = b.b{t} AND a.vec_id < b.vec_id"
        for t in range(LSH_TABLES)
    )
    cos = f"{_sql_dot_unrolled('x.embedding', 'y.embedding')} / (x.nrm * y.nrm)"
    return f"""
    WITH buck AS MATERIALIZED (
      SELECT vec_id, embedding,
         sqrt({_sql_dot_unrolled("embedding", "embedding")}) AS nrm,
         {buckets}
      FROM embeddings),
    cand AS (
      SELECT DISTINCT vec1, vec2 FROM (
        {per_table}) u)
    SELECT vec1, vec2, cosine FROM (
      SELECT c.vec1, c.vec2, {cos} AS cosine
      FROM cand c
      JOIN buck x ON x.vec_id = c.vec1
      JOIN buck y ON y.vec_id = c.vec2) pairs
    WHERE cosine >= {DUP_COS}
    """


@register(
    "embedding_lsh_dups",
    oracle=_lsh_dups_oracle(),
    tags=("similarity", "dedup", "north-star", "lsh"),
)
def embedding_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked on LSH buckets — the
    data-independent scale path (no reliance on a pre-existing key, block
    sizes bounded by 2^planes regardless of corpus skew). Candidates =
    pairs sharing a bucket in ANY table (deduped), verified by exact
    cosine; only ~1/3 of the pair space is ever scored at these knobs.
    The oracle replicates the bucket function with the same plane
    literals, so the approximate pair set is deterministic cross-engine.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    # bucket build on the bit-exact Arrow path (r05: dimension-major
    # accumulation == the expression fold's summation order, so the
    # DuckDB oracle still hash-matches; measured 3.7 s -> 2.6 s at sf0.1)
    nrms = emb.select(
        "vec_id", F.sqrt(_dot_unrolled("embedding", "embedding")).alias("nrm")
    )
    bk = random_hyperplane_buckets_arrow(emb, exact=True).join(
        F.broadcast(nrms), "vec_id"
    )
    a = bk.select(
        F.col("vec_id").alias("vec1"), F.col("embedding").alias("e1"),
        F.col("nrm").alias("n1"), "table", "bucket",
    )
    b = bk.select(
        F.col("vec_id").alias("vec2"), F.col("embedding").alias("e2"),
        F.col("nrm").alias("n2"), "table", "bucket",
    )
    # Norms are computed once per VECTOR (before the bucket fan-out) and
    # carried through the join, so each candidate pair runs ONE dot fold
    # instead of three. Score and threshold BEFORE the dedup: a pair
    # colliding in several tables recomputes its (deterministic) cosine,
    # but the distinct then shuffles three scalars per surviving pair
    # instead of two 64-float arrays per candidate.
    # r05 session 2: score on the Arrow pair path (dimension-major exact
    # dot — bit-identical to the expression fold and the oracle; measured
    # ~6 s -> ~1.5 s at sf0.1: the interpreted zip_with lambda was ~90% of
    # query time at ~800k candidate scorings)
    cand = (
        a.join(b.hint("shuffle_hash"), ["table", "bucket"])
        .filter(F.col("vec1") < F.col("vec2"))
    )
    return (
        cosine_pairs_arrow(cand)
        .filter(F.col("cosine") >= DUP_COS)
        .distinct()
    )


@register(
    "doc_embedding_profile",
    oracle=f"""
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           MIN(sqrt({_SQL_DOT.format(a="e.embedding", b="e.embedding")})) AS min_norm,
           MAX(sqrt({_SQL_DOT.format(a="e.embedding", b="e.embedding")})) AS max_norm
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY d.lang
    """,
    tags=("similarity", "multimodal", "join", "north-star"),
)
def doc_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: text metadata ⋈ vector column, rolled up by
    language — the shape of joining a document store with its embedding
    index (key-equi join; at scale both sides partition on the doc key so
    the join is co-located)."""
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    nrm = F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding")))
    return (
        docs.join(emb, docs["doc_id"] == emb["vec_id"], "inner")
        .select("lang", "n_chars", nrm.alias("_norm"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("_norm").alias("min_norm"),
            F.max("_norm").alias("max_norm"),
        )
    )


def random_hyperplane_buckets(
    emb: DataFrame,
    n_tables: int = LSH_TABLES,
    planes_per_table: int = LSH_PLANES,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Multi-table random-hyperplane LSH: one bucket id per (vector, table).

    Each table uses ``planes_per_table`` seeded hyperplanes; a vector's
    bucket is the sign-pattern of its projections. Multiple independent
    tables union their candidates — the standard recall knob (P[collide in
    ≥1 table] = 1−(1−p^r)^L).

    Returns one row per (vec_id, table, bucket) — |tables|× row growth,
    which at 100 TB is the explicit storage/recall trade. All tables'
    buckets are computed in ONE projection over a single scan and fanned
    out with ``posexplode`` (a union of per-table branches re-scans the
    input once per table).
    """
    buckets = F.array(
        *[
            _bucket_col(planes)
            for planes in _hyperplanes(n_tables, planes_per_table, seed, dim)
        ]
    )
    # "*" keeps caller-added columns (e.g. a precomputed norm) alongside
    return emb.select("*", F.posexplode(buckets).alias("table", "bucket"))


def _ann_lsh_oracle() -> str:
    """DuckDB replica of the LSH-bucketed top-k: identical plane literals
    and left-associated double sums (the same primitives the r04
    ``embedding_lsh_dups`` oracle proved bit-identical), per-table
    candidate unions, then the brute-force scoring expression of
    ``ann_cosine_topk`` restricted to the candidate set."""
    planes = _hyperplanes(LSH_TABLES, LSH_PLANES)
    buckets = ",\n             ".join(
        f"{_bucket_sql(p)} AS b{t}" for t, p in enumerate(planes)
    )
    per_table = "\n        UNION ALL ".join(
        f"SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id\n"
        f"         FROM buck a JOIN buck b ON a.b{t} = b.b{t}\n"
        f"         WHERE a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id"
        for t in range(LSH_TABLES)
    )
    cos = (
        f"{_sql_dot_unrolled('q.embedding', 'c.embedding')}"
        f" / (sqrt({_sql_dot_unrolled('q.embedding', 'q.embedding')})"
        f" * sqrt({_sql_dot_unrolled('c.embedding', 'c.embedding')}))"
    )
    return f"""
    WITH buck AS MATERIALIZED (
      SELECT vec_id,
             {buckets}
      FROM embeddings),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id FROM (
        {per_table}) u),
    scored AS (
      SELECT p.query_id, p.neighbor_id, {cos} AS cosine
      FROM cand p
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings c ON c.vec_id = p.neighbor_id)
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored) t
    WHERE rnk <= {TOP_K}
    """


@register(
    "ann_lsh_topk",
    oracle=_ann_lsh_oracle(),
    tags=("similarity", "north-star", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: score only candidates sharing a bucket in ANY of
    the hash tables (multi-table union = the recall knob; recall vs brute
    force asserted in tests). Per-query cost is |union of buckets|, not
    |corpus| — the sub-linear scale path.

    Converted from rows-only to a full oracle in r05: the DuckDB oracle
    replicates the bucket fold bit-for-bit (same plane literals,
    left-associated double sums — the primitives the r04
    ``embedding_lsh_dups`` oracle proved). Buckets are built on the Arrow
    path in ``exact=True`` mode (dimension-major accumulation — the
    matmul's throughput with the fold's exact summation order), so the
    query keeps the production fast path AND hash-matches the oracle;
    ``test_arrow_bucket_fast_path_matches_expression_path`` pins the
    bit-equality of the two builders."""
    emb = load_table(spark, "embeddings", sf_dir)
    bucketed = random_hyperplane_buckets_arrow(emb, exact=True)
    # r16 (guide §4: pass only the rows the kernel needs): a filter above
    # mapInPandas cannot push through it, so `bucketed.filter(vec_id <
    # N_QUERIES)` ran the full-corpus Arrow bucket kernel a SECOND time
    # just to keep the handful of query rows for the broadcast build.
    # Bucketing is per-row, so bucketing the pre-filtered relation is
    # bit-identical — and the vec_id predicate now pushes into the
    # parquet scan (PushedFilters) instead of running after the kernel.
    qside = random_hyperplane_buckets_arrow(
        emb.filter(F.col("vec_id") < N_QUERIES), exact=True
    )
    # r06: norms fold once per (vector, table) row here — bounded by
    # 12·|corpus| — instead of twice per scored candidate pair (strictly
    # fewer folds whenever buckets collide at all). Same double sequence,
    # so cosines stay bit-identical to the oracle.
    q = qside.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("table").alias("qt"),
        F.col("bucket").alias("qb"),
        norm("embedding").alias("qn"),
    )
    c = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("table").alias("ct"),
        F.col("bucket").alias("cb"),
        norm("embedding").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("qt") == F.col("ct"))
            & (F.col("qb") == F.col("cb"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        # Score BEFORE the multi-table dedup: a pair colliding in several
        # tables recomputes its (deterministic) cosine, but the distinct
        # then shuffles three scalars instead of two 64-float arrays.
        .select(
            "query_id",
            "neighbor_id",
            (dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def random_hyperplane_buckets_arrow(
    emb: DataFrame,
    n_tables: int = LSH_TABLES,
    planes_per_table: int = LSH_PLANES,
    seed: int = 42,
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Arrow fast path for :func:`random_hyperplane_buckets`: ONE numpy
    matmul per batch ((rows × dim) @ (dim × tables·planes)) instead of
    tables × planes expression folds per row — the production choice when
    bucket building dominates (it is per-vector work, so at 100 TB it is
    the biggest fixed cost of the LSH index).

    ``exact=False`` (default): numpy accumulates the dot products
    pairwise/SIMD, not left-associated, so a projection within float
    rounding of zero can land on the other side of the hyperplane vs the
    expression path — bucket agreement is ~1 - 1e-8 per projection, not
    exactly 1.

    ``exact=True`` (r05): dimension-major accumulation — acc starts at
    0.0 and adds x[d]·p[d] one dimension at a time (a vectorized (rows ×
    projections) FMA per dimension), which reproduces the expression
    fold's left-associated order BIT-FOR-BIT while keeping the Arrow
    batch shape. Same flop count as the matmul, slightly more memory
    traffic; this is what lets the oracle-gated ``ann_lsh_topk`` use the
    Arrow path without breaking cross-engine hash equality
    (``test_arrow_exact_bucket_path_matches_expression_path``).
    """
    import numpy as np

    planes = _hyperplanes(n_tables, planes_per_table, seed, dim)
    mat = np.concatenate(planes, axis=0).T  # (dim, n_tables*planes_per_table)
    weights = (1 << np.arange(planes_per_table)).astype("int64")

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("table", IntegerType()),
            StructField("bucket", IntegerType()),
        ]
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):  # np.stack raises on zero arrays
                continue
            vecs = np.stack(pdf["embedding"].to_numpy())  # (n, dim)
            v64 = vecs.astype("float64")
            if exact:
                # left-associated fold, dimension-major: bit-identical to
                # the expression path (and the DuckDB oracle's list_reduce)
                proj = np.zeros((len(pdf), mat.shape[1]))
                for d in range(mat.shape[0]):
                    proj += v64[:, d : d + 1] * mat[d]
            else:
                proj = v64 @ mat  # (n, T*P), pairwise/SIMD accumulation
            bits = (proj >= 0).reshape(len(pdf), n_tables, planes_per_table)
            buckets = (bits * weights).sum(axis=2).astype("int32")  # (n, T)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_tables),
                    "embedding": [
                        e for e in pdf["embedding"] for _ in range(n_tables)
                    ],
                    "table": np.tile(np.arange(n_tables, dtype="int32"), n),
                    "bucket": buckets.reshape(-1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(batches, out_schema)


def cosine_pairs_arrow(pairs: DataFrame) -> DataFrame:
    """Arrow fast path for bulk PAIR scoring: input rows carry
    ``(vec1, vec2, e1, e2, n1, n2)``; output is ``(vec1, vec2, cosine)``.

    The dot product uses the same dimension-major left-associated
    accumulation as :func:`random_hyperplane_buckets_arrow` ``exact=True``
    — acc starts 0.0 and adds e1[d]·e2[d] one dimension at a time
    (vectorized across the batch) — so each pair's cosine is BIT-IDENTICAL
    to the ``aggregate(zip_with(...))`` expression fold and to the DuckDB
    oracle's unrolled sum. Swapping the fold for this path changes
    per-candidate cost from an interpreted per-element lambda (boxing,
    ~7 µs/pair measured) to ~0.1 µs/pair of numpy — the difference between
    scoring dominating the near-dup query and scoring being free.
    """
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("vec1", LongType()),
            StructField("vec2", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def batches(it):
        import pyarrow as pa

        for rb in it:
            n = rb.num_rows
            if not n:
                continue
            # zero-copy: list<float> values buffer -> (n, dim) view
            # (flatten() honors slice offsets). A null or ragged embedding
            # would silently misalign every pair after it under a bare
            # reshape(n, -1) — fail loudly at the batch boundary instead
            # (ADVICE r05 item 5).
            fa = rb.column("e1").flatten()
            fb = rb.column("e2").flatten()
            if rb.column("e1").null_count or rb.column("e2").null_count:
                raise ValueError("cosine_pairs_arrow: null embedding in batch")
            lens_a = np.asarray(pa.compute.list_value_length(rb.column("e1")))
            lens_b = np.asarray(pa.compute.list_value_length(rb.column("e2")))
            if (lens_a != lens_a[0]).any() or (lens_b != lens_a[0]).any():
                raise ValueError(
                    f"cosine_pairs_arrow: ragged embeddings "
                    f"(n={n}, e1 lens {np.unique(lens_a)}, "
                    f"e2 lens {np.unique(lens_b)})"
                )
            a = np.asarray(fa).reshape(n, -1)
            b = np.asarray(fb).reshape(n, -1)
            a64 = a.astype("float64")
            b64 = b.astype("float64")
            acc = np.zeros(n)
            for d in range(a64.shape[1]):
                acc += a64[:, d] * b64[:, d]
            cosine = acc / (
                np.asarray(rb.column("n1")) * np.asarray(rb.column("n2"))
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column("vec1"), rb.column("vec2"), pa.array(cosine)],
                names=["vec1", "vec2", "cosine"],
            )

    return pairs.select("vec1", "vec2", "e1", "e2", "n1", "n2").mapInArrow(
        batches, out_schema
    )


@register(
    "embedding_int8_quant",
    oracle="""
    WITH base AS (
      SELECT vec_id,
             CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS vmin,
             CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS vmax,
             embedding
      FROM embeddings),
    q AS (
      SELECT vec_id, vmin, vmax,
             CASE WHEN vmax > vmin THEN
               list_transform(embedding, x ->
                 CAST(floor((CAST(x AS DOUBLE) - vmin) * 255.0
                            / (vmax - vmin)) AS BIGINT))
             ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
      FROM base)
    SELECT vec_id, vmin, vmax,
           (vmax - vmin) / 255.0 AS scale,
           list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
                       (a, b) -> a + b) AS q_sum,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(qv, v -> v * v)),
                       (a, b) -> a + b) AS q_sumsq
    FROM q
    """,
    tags=("similarity", "north-star", "quantization"),
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization stats — the compression stage
    of an embedding store (memory ÷4 before ANN). Emits the dequant
    params (vmin, vmax, scale) plus exact integer checksums of the
    quantized codes (q_sum, q_sumsq), which pin the whole code array
    cross-engine without shipping arrays through the comparator.
    ``floor`` quantization, not ``round``: floor is exact on doubles in
    both engines while round ties differ (half-up vs half-even). Pure
    projection — no shuffle, embarrassingly parallel."""
    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.select(
        "vec_id",
        F.array_min("embedding").cast("double").alias("vmin"),
        F.array_max("embedding").cast("double").alias("vmax"),
        "embedding",
    )
    q = base.withColumn(
        "qv",
        F.when(
            F.col("vmax") > F.col("vmin"),
            F.expr(
                "transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE) - vmin)"
                " * 255.0D / (vmax - vmin)) AS BIGINT))"
            ),
        ).otherwise(F.expr("transform(embedding, x -> CAST(0 AS BIGINT))")),
    )
    return q.select(
        "vec_id",
        "vmin",
        "vmax",
        ((F.col("vmax") - F.col("vmin")) / 255.0).alias("scale"),
        F.expr("aggregate(qv, CAST(0 AS BIGINT), (a, v) -> a + v)").alias("q_sum"),
        F.expr("aggregate(qv, CAST(0 AS BIGINT), (a, v) -> a + v * v)").alias(
            "q_sumsq"
        ),
    )


CENTROID_DECIMALS = 6  # centroid components rounded for stable text emission


@register(
    "embedding_label_centroids",
    oracle=f"""
    WITH dims AS (
      SELECT label, i AS dim, embedding[i] AS x
      FROM (SELECT label, embedding,
                   UNNEST(generate_series(1, len(embedding))) AS i
            FROM embeddings)),
    means AS (
      SELECT label, dim, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS m
      FROM dims GROUP BY label, dim)
    SELECT label,
           CAST(SUM(n) / (SELECT MAX(dim) FROM dims) AS BIGINT) AS _chk,
           string_agg(CAST(CAST(round(m, {CENTROID_DECIMALS})
                             AS DECIMAL(12,{CENTROID_DECIMALS})) AS VARCHAR), ','
                      ORDER BY dim) AS centroid
    FROM means
    GROUP BY label
    """,
    tags=("similarity", "north-star", "centroid"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector — the centroid build underneath every IVF /
    coarse-quantizer / cluster-summary step, as a first-class distributed
    aggregate: posexplode to (label, dim, x), exact-DECIMAL per-dimension
    sums (order-independent — a float mean over a shuffled billion-vector
    corpus must not drift run to run), one division per (label, dim).

    Emission: centroids leave the engine as comma-joined rounded strings
    ordered by dimension (array hashing is representation-sensitive cross-
    engine; rounding to {CENTROID_DECIMALS} dp makes the TEXT rendering
    identical while the underlying doubles are already bit-equal). The
    ``_chk`` column carries members-per-label derived from the dim rows —
    a built-in conservation check. One explode + one (label, dim) shuffle
    whose cardinality is |labels|·dim regardless of corpus size."""
    emb = load_table(spark, "embeddings", sf_dir)
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "x")
    means = dims.groupBy("label", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(38,9)")).cast("double")
            / F.count("*").cast("double")
        ).alias("m"),
        F.count("*").alias("n"),
    )
    ndim = dims.agg(F.max("dim").alias("nd"))
    return (
        means.crossJoin(F.broadcast(ndim))  # 1-row: attach dimensionality
        .groupBy("label")
        .agg(
            (F.sum("n") / F.any_value("nd")).cast("long").alias("_chk"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", F.round("m", CENTROID_DECIMALS).alias("mr")))
                    ),
                    lambda s: s["mr"].cast("decimal(12,6)").cast("string"),
                ),
                ",",
            ).alias("centroid"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic-pivot IVF: md5-anchored cells, the engine's one IVF.
# ---------------------------------------------------------------------------

IVF_DET_K = 8  # pivot count = cell count
IVF_DET_NPROBE = 2


def _d2_lit_fold(col: str, vec: "list[float]") -> Column:
    """Squared L2 distance of ``col`` to a LITERAL pivot vector, as the
    repo's sequential double fold — the same ((0+t1)+t2)+… addition order
    as the oracle's unrolled SQL, so the distance (and hence the argmin
    cell) is bit-identical cross-engine. Literal doubles round-trip via
    repr() exactly (same trick as :func:`_bucket_col`)."""
    arr = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vec)
    # memoized parse (r16 opt): k of these multi-KB folds build per
    # quantizer call across the IVF/semdedup queries; the pivots are
    # data, which is why the memo is bounded (EXPR_MEMO_SIZE)
    return _expr_memo(
        f"aggregate(zip_with({col}, array({arr}),"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _sql_d2_unrolled(a: str, b: str, dim: int = 64) -> str:
    """The same squared L2 distance in DuckDB SQL, fold unrolled to the
    identical left-associated sum (see :func:`_sql_dot_unrolled`)."""
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    return f"(CAST(0 AS DOUBLE) + {terms})"


def ivf_det_pivots(spark: SparkSession, sf_dir: str, k: int = IVF_DET_K):
    """The k deterministic pivot vectors: corpus rows ranked by
    ``(md5(vec_id), vec_id)`` — the repo's portable-hash ordering, so both
    engines select the SAME pivots with no RNG and no training state.
    Returns ``[(cell, [float, ...]), ...]`` with cell = rank − 1.

    100 TB posture: a global top-k by a hash key is a TakeOrdered — each
    partition contributes its local top-k (map-side), the driver merges
    k·partitions candidate rows; k is constant, so this is one cheap pass
    regardless of corpus size (and in practice the pivot set would be
    computed once and persisted with the index, not per query)."""
    emb = load_table(spark, "embeddings", sf_dir)
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .collect()
    )
    return [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(rows)]


def _ivf_det_ranked(pivots) -> Column:
    """array<struct<d2,cell>> of ALL pivot distances for one row, sorted
    ascending (ties → smaller cell) — element 1 is the owning cell, the
    first ``nprobe`` elements are the probe list. One narrow projection,
    zero shuffle: exactly how a coarse quantizer assigns at scale."""
    return F.sort_array(
        F.array(
            *[
                F.struct(
                    _d2_lit_fold("embedding", vec).alias("d2"),
                    F.lit(cell).alias("cell"),
                )
                for cell, vec in pivots
            ]
        )
    )


def _pivot_cells_ctes(k_sql: str, assign_src: str = "embeddings") -> str:
    """The md5-ranked deterministic quantizer as oracle CTEs — ONE source
    of truth for the pivots/assign/cells block shared by the det-IVF,
    SemDeDup, and SemDeDup-eval oracles (drift here = silent cross-engine
    hash divergence). ``k_sql`` is the pivot-count expression: a literal
    int for fixed-k consumers, or a computed subquery (DuckDB supports
    LIMIT (SELECT ...)) mirroring :func:`semdedup_k`. ``assign_src`` is
    the relation whose vectors get assigned (pivots ALWAYS rank the full
    corpus)."""
    d2 = _sql_d2_unrolled("e.embedding", "p.pe")
    return f"""pivots AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS cell,
             embedding AS pe
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {k_sql}),
    assign AS MATERIALIZED (
      SELECT e.vec_id, e.embedding, p.cell, {d2} AS d2
      FROM {assign_src} e CROSS JOIN pivots p),
    cells AS MATERIALIZED (
      SELECT vec_id, embedding, cell FROM (
        SELECT vec_id, embedding, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM assign) t
      WHERE rn = 1)"""


def _ivf_det_oracle() -> str:
    cos = (
        f"{_sql_dot_unrolled('p.qe', 'c.embedding')}"
        f" / (sqrt({_sql_dot_unrolled('p.qe', 'p.qe')})"
        f" * sqrt({_sql_dot_unrolled('c.embedding', 'c.embedding')}))"
    )
    return f"""
    WITH {_pivot_cells_ctes(str(IVF_DET_K))},
    probes AS (
      SELECT vec_id AS query_id, embedding AS qe, cell FROM (
        SELECT vec_id, embedding, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM assign WHERE vec_id < {N_QUERIES}) t
      WHERE rn <= {IVF_DET_NPROBE})
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM (
        SELECT p.query_id, c.vec_id AS neighbor_id, {cos} AS cosine
        FROM probes p
        JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id) s) t
    WHERE rnk <= {TOP_K}
    """


@register(
    "ann_ivf_det_topk",
    oracle=_ivf_det_oracle(),
    tags=("similarity", "north-star", "ivf"),
)
def ann_ivf_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a DETERMINISTIC coarse quantizer — the hash-verifiable
    IVF: cell assignment → nprobe probing → within-cell exact cosine →
    top-k, with the k cells anchored on md5-ranked corpus vectors, so the
    ENTIRE path — pivot choice, argmin assignment, probe ranking, scoring,
    ranking — is bit-replicable in the DuckDB oracle (no training state,
    no RNG). Within its probed cells the search is exact, and probing all
    ``IVF_DET_K`` cells equals brute force (both pytest-pinned).

    Plan shape (the one that survives 100 TB): pivots are k collected rows
    baked into the plan as literals; cell assignment is ONE narrow
    projection (k distance folds + an array sort per row — no fan-out, no
    shuffle); the probe side is N_QUERIES·nprobe rows broadcast into a
    hash join against the corpus keyed by cell; top-k is a per-query
    window over candidates only."""
    emb = load_table(spark, "embeddings", sf_dir)
    pivots = ivf_det_pivots(spark, sf_dir)
    ranked = _ivf_det_ranked(pivots)
    # r06: norms fold once per vector in these projections, not per
    # candidate pair (same double sequence → bit-identical cosines).
    assigned = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        ranked[0]["cell"].alias("cell"),
        norm("embedding").alias("cn"),
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            norm("embedding").alias("qn"),
            F.explode(F.slice(ranked, 1, IVF_DET_NPROBE)).alias("pr"),
        )
        .select("query_id", "qe", "qn", F.col("pr.cell").alias("cell"))
    )
    scored = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # each corpus vector sits in exactly one cell and the probe list
        # holds each (query, cell) once → pairs already unique, no distinct
        .select(
            "query_id",
            "neighbor_id",
            (dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten for the persisted ANN index (r15, VERDICT r14
# item 7): delete erased documents' vectors from the cell-partitioned
# IVF index WITHOUT a rebuild, then serve top-k off the repaired index.
# ---------------------------------------------------------------------------

# The deterministic erased-document set (the embedding-side mirror of
# the events family's user erasure predicate).
_ERASED_VEC_SQL = "vec_id % 7 = 3"


def _ivf_erasure_oracle() -> str:
    cos = (
        f"{_sql_dot_unrolled('p.qe', 'c.embedding')}"
        f" / (sqrt({_sql_dot_unrolled('p.qe', 'p.qe')})"
        f" * sqrt({_sql_dot_unrolled('c.embedding', 'c.embedding')}))"
    )
    # `kept` IS the index rebuilt without the erased vectors: the pivots
    # deliberately rank the FULL corpus (a deployment does not retrain
    # its quantizer on every deletion — cell geometry is sticky), so
    # rebuild-without-them = same cells minus erased rows, and a hash
    # match proves delete-in-place ≡ rebuild.
    return f"""
    WITH {_pivot_cells_ctes(str(IVF_DET_K))},
    kept AS (SELECT * FROM cells WHERE NOT ({_ERASED_VEC_SQL})),
    probes AS (
      SELECT vec_id AS query_id, embedding AS qe, cell FROM (
        SELECT vec_id, embedding, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM assign
        WHERE vec_id < {N_QUERIES} AND NOT ({_ERASED_VEC_SQL})) t
      WHERE rn <= {IVF_DET_NPROBE})
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM (
        SELECT p.query_id, c.vec_id AS neighbor_id, {cos} AS cosine
        FROM probes p
        JOIN kept c ON c.cell = p.cell AND c.vec_id <> p.query_id) s) t
    WHERE rnk <= {TOP_K}
    """


def ivf_delete_in_place(
    spark: SparkSession,
    cells_dir: str,
    erased: DataFrame,
    pivots,
) -> "list[int]":
    """Erase vectors from a cell-partitioned IVF index without touching
    untouched cells (shared by the registered query, the probe, and the
    layout pytest, so all three exercise the same shape). Three bounded
    steps:

    1. The erased vectors' owning cells are RE-COMPUTED from the
       stateless quantizer (`_assigned_cells` over just the erased rows
       — k distance folds each, no index scan): the deterministic
       argmin means deletion never needs a vec_id-keyed lookup
       structure on the cell-partitioned layout.
    2. Only those cell partitions are read back (the IN-list lands in
       PartitionFilters — directory pruning, same read path the query
       side uses) and the erased ids anti-joined out (broadcast: an
       erasure batch is small by nature).
    3. Dynamic partition OVERWRITE rewrites exactly the touched
       ``cell=<i>`` directories; every other cell's files are never
       opened, moved, or rewritten (pinned by
       ``test_ivf_delete_in_place_touches_only_erased_cells``).

    The repaired slice is localCheckpoint-ed before the write because
    the write overwrites the very directories its lineage reads —
    lineage truncation, not caching (the slice is
    erasure-footprint-proportional: the touched cells' rows).

    Returns the touched cell ids. At 100 TB this is the difference
    between rewriting a few cell directories and re-assigning the
    corpus: deletion cost scales with the erased set's cell footprint,
    not the index size."""
    import os
    import shutil

    touched = sorted(
        int(r["cell"])
        for r in _assigned_cells(erased, pivots).select("cell").distinct().collect()
    )
    if not touched:
        return []
    repaired = (
        spark.read.parquet(cells_dir)
        .filter(F.col("cell").isin(touched))
        .join(F.broadcast(erased.select("vec_id")), "vec_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    # Dynamic partition overwrite only rewrites partitions PRESENT in
    # the written data — a touched cell whose rows are ALL erased
    # contributes zero rows to `repaired`, so its ``cell=<i>`` directory
    # would survive the write and keep serving the deleted vectors
    # (r15 review catch). Such cells are dropped at the directory level,
    # the same move a table format's DELETE makes in metadata. The
    # remaining-cell probe is bounded (≤ touched cells).
    present = {
        int(r["cell"]) for r in repaired.select("cell").distinct().collect()
    }
    if present:
        # a write option, not the session conf: the probe leg of
        # `ann_ivf_erasure_topk` runs on another thread meanwhile
        repaired.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("cell").parquet(cells_dir)
    for cell in touched:
        if cell not in present:
            shutil.rmtree(
                os.path.join(cells_dir, f"cell={cell}"), ignore_errors=True
            )
    return touched


@register(
    "ann_ivf_erasure_topk",
    oracle=_ivf_erasure_oracle(),
    tags=("similarity", "ivf", "erasure", "gdpr", "north-star"),
)
def ann_ivf_erasure_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten reaching the persisted ANN index: erased
    documents' vectors are deleted from the cell-partitioned IVF index
    IN PLACE (`ivf_delete_in_place`: recompute just the erased rows'
    owning cells from the stateless quantizer, rewrite only those
    ``cell=<i>`` directories via dynamic partition overwrite), then
    top-k is served off the repaired index through the standard pruned
    read (probe-list IN-list → PartitionFilters). The quantizer is NOT
    retrained — pivots keep ranking the full corpus, exactly what a
    deployment does on deletion — so the oracle's rebuild-without-them
    (`kept` = det-IVF cells minus erased) is the ground truth, and a
    hash-green row proves delete-in-place ≡ full rebuild for every
    query's entire top-k (same md5-anchored determinism as
    `ann_ivf_det_topk`; erased vectors also leave the query set).

    The untouched-cells-never-rewritten claim is pinned byte-level by
    ``test_ivf_delete_in_place_touches_only_erased_cells``; the
    delete-vs-rebuild cost asymmetry is measured at the decades
    (SCALING.md r15). The reference has no similarity or deletion
    surface; this is the engine's [NORTH-STAR] extension mandate
    meeting its GDPR story."""
    import os
    import tempfile

    emb = load_table(spark, "embeddings", sf_dir)
    pivots = ivf_det_pivots(spark, sf_dir)
    with tempfile.TemporaryDirectory() as d:
        cells_dir = os.path.join(d, "cells")

        def _probe_leg():
            # the QUERY side of the served read: quantize the queries and
            # pin their probe lists. Reads only the embeddings table and
            # the stateless quantizer — never the index directories — so
            # it runs CONCURRENTLY with the index write + delete chain
            # below (guide §2.6; r16 opt: interleaved A/B ×0.83–0.88 on
            # every pair).
            ranked = _ivf_det_ranked(pivots)
            probes = (
                emb.filter(
                    (F.col("vec_id") < N_QUERIES) & ~F.expr(_ERASED_VEC_SQL)
                )
                .select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qe"),
                    norm("embedding").alias("qn"),
                    F.explode(F.slice(ranked, 1, IVF_DET_NPROBE)).alias("pr"),
                )
                .select(
                    "query_id", "qe", "qn", F.col("pr.cell").alias("cell")
                )
                # consumed twice (probe-cell collect + the broadcast
                # join) — without this the embeddings scan + k distance
                # folds run twice; bounded: ≤ N_QUERIES·nprobe rows
                .localCheckpoint(eager=True)
            )
            cells = sorted(
                int(r["cell"])
                for r in probes.select("cell").distinct().collect()
            )
            return probes, cells

        def _index_leg() -> None:
            # the one-time index WRITE (exists already in production),
            # then the delete the served read runs off
            _assigned_cells(emb, pivots).write.partitionBy("cell").parquet(
                cells_dir
            )
            erased = emb.filter(F.expr(_ERASED_VEC_SQL)).select(
                "vec_id", "embedding"
            )
            ivf_delete_in_place(spark, cells_dir, erased, pivots)

        (probes, probe_cells), _ = overlap(spark, _probe_leg, _index_leg)
        if not probe_cells:  # degenerate corpus: nothing left to query
            return spark.createDataFrame(
                [], "query_id long, neighbor_id long, cosine double, rnk long"
            )
        idx = (
            spark.read.parquet(cells_dir)
            # literal IN-list → PartitionFilters → only probed dirs read
            .filter(F.col("cell").isin(probe_cells))
            .select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("ce"),
                "cell",
                norm("embedding").alias("cn"),
            )
        )
        scored = (
            F.broadcast(probes)
            .join(idx, "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                (dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias(
                    "cosine"
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        out = (
            scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "neighbor_id", "cosine", "rnk")
        )
        # Materialize before the tempdir vanishes (bounded: ≤
        # N_QUERIES·TOP_K rows).
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction (r05 session 2)
# ---------------------------------------------------------------------------

PROJ_DIM = 16  # 64-d -> 16-d Johnson-Lindenstrauss sketch
PROJ_SEED = 7  # independent of the LSH planes


def _proj_planes():
    return _hyperplanes(1, PROJ_DIM, seed=PROJ_SEED)[0]  # (PROJ_DIM, 64)


_PROJ_SCALE = "0.25"  # 1/sqrt(PROJ_DIM), exact in binary for PROJ_DIM=16


def _proj_cols() -> "list[Column]":
    return _proj_cols_on(SparkContext._gateway)


@lru_cache(maxsize=1)  # one live gateway at a time
def _proj_cols_on(gateway) -> "list[Column]":
    """The PROJ_DIM projection components of ``embedding`` as expression
    folds against literal rows of the seeded matrix, scaled by
    1/√PROJ_DIM (norm-preserving in expectation). Same literal-repr
    round-trip and left-associated sums as the LSH bucket builder.
    Memoized (r16 opt): the 16 multi-KB fold strings are constants —
    re-parsing them on every build was pure driver overhead (callers
    only read the returned Columns, never mutate the list)."""
    out = []
    for row in _proj_planes():
        arr = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in row.tolist())
        out.append(
            _expr_memo(_DOT.format(a="embedding", b=f"array({arr})"))
            * F.lit(float(_PROJ_SCALE))
        )
    return out


def _proj_sql_terms(col: str = "embedding") -> "list[str]":
    # literals QUOTED: DuckDB parses a bare 17-digit numeric literal as
    # DECIMAL first and double-rounds on the cast (~13% of values land one
    # ulp off the repr round-trip); CAST('…' AS DOUBLE) goes through strtod
    # and matches Spark's literal bit-for-bit (verified over all 1024)
    return [
        f"({_sql_dot_unrolled(col, f'[{lst}]')} * {_PROJ_SCALE})"
        for lst in (
            ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in row.tolist())
            for row in _proj_planes()
        )
    ]


def _rp_oracle() -> str:
    comps = _proj_sql_terms()
    rendered = ", ".join(
        f"CAST(CAST(round(p{k + 1}, {CENTROID_DECIMALS})"
        f" AS DECIMAL(12,{CENTROID_DECIMALS})) AS VARCHAR)"
        for k in range(PROJ_DIM)
    )
    pnorm_terms = " + ".join(f"p{k + 1} * p{k + 1}" for k in range(PROJ_DIM))
    proj_cols = ",\n             ".join(
        f"{c} AS p{k + 1}" for k, c in enumerate(comps)
    )
    return f"""
    WITH proj AS (
      SELECT vec_id,
             sqrt({_sql_dot_unrolled("embedding", "embedding")}) AS orig_norm,
             {proj_cols}
      FROM embeddings)
    SELECT vec_id,
           concat_ws(',', {rendered}) AS proj,
           orig_norm,
           sqrt(CAST(0 AS DOUBLE) + {pnorm_terms}) AS proj_norm,
           sqrt(CAST(0 AS DOUBLE) + {pnorm_terms}) / orig_norm AS norm_ratio
    FROM proj
    """


@register(
    "embedding_random_projection",
    oracle=_rp_oracle(),
    tags=("similarity", "north-star", "projection"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection: 64-d embeddings sketched to
    {PROJ_DIM}-d with a seeded Gaussian matrix (scaled 1/√{PROJ_DIM} so
    norms are preserved in expectation) — the dimensionality-reduction
    step in front of clustering/ANN when the full embedding width is the
    cost driver. Emits the projected vector (rounded comma-string, the
    centroid-emission convention) plus the per-vector norm-preservation
    audit columns; pairwise-distance distortion is pytest-bounded (the
    actual JL guarantee).

    Purely per-row arithmetic against plan-literal matrix rows — one
    narrow projection, zero shuffle, embarrassingly parallel at any
    scale; the seeded-literal trick makes the whole sketch bit-replicable
    in the DuckDB oracle (same repr doubles, same left-associated sums).
    """
    emb = load_table(spark, "embeddings", sf_dir)
    comps = _proj_cols()
    proj = emb.select(
        "vec_id",
        F.sqrt(_dot_unrolled("embedding", "embedding")).alias("orig_norm"),
        *[c.alias(f"p{k + 1}") for k, c in enumerate(comps)],
    )
    pnorm: Column = F.lit(0.0)
    for k in range(PROJ_DIM):
        pnorm = pnorm + F.col(f"p{k + 1}") * F.col(f"p{k + 1}")
    rendered = F.concat_ws(
        ",",
        *[
            F.round(F.col(f"p{k + 1}"), CENTROID_DECIMALS)
            .cast(f"decimal(12,{CENTROID_DECIMALS})")
            .cast("string")
            for k in range(PROJ_DIM)
        ],
    )
    return proj.select(
        "vec_id",
        rendered.alias("proj"),
        "orig_norm",
        F.sqrt(pnorm).alias("proj_norm"),
        (F.sqrt(pnorm) / F.col("orig_norm")).alias("norm_ratio"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: centroid-blocked semantic dedup (r06)
# ---------------------------------------------------------------------------

SEMDEDUP_K = 16  # minimum cell count (= the cell count at every driver SF)
SEMDEDUP_TAU = 0.3  # within-cell cosine at/above this = semantic duplicate
SEMDEDUP_TARGET_CELL = 125  # grow k to hold ~this many vectors per cell


def semdedup_k(n_vectors: int | None) -> int:
    """SemDeDup's cell-count rule: k = max(K_MIN, ceil(n / target_cell)).

    The within-cell pair stage does Σ|cell|² work — with FIXED k it grows
    quadratically in corpus size (measured: ×76 time on a ×10 corpus step
    before this rule, r06 scale10x). Holding |cell| ≈ target constant makes
    it linear (×10 corpus → ×10 cells of the same size), at the standard
    IVF price of n·k assignment folds — the knob real systems tune with
    hierarchical quantizers.

    The driver correctness SFs all land exactly at k = {k} (500, 500 and
    2000 vectors with target {t}), which is what lets the static DuckDB
    oracle pin the pivot count; tests/test_r06_ops.py asserts both that
    anchoring and the growth past it."""
    if n_vectors is None:
        return SEMDEDUP_K
    return max(SEMDEDUP_K, -(-n_vectors // SEMDEDUP_TARGET_CELL))


semdedup_k.__doc__ = semdedup_k.__doc__.format(
    k=SEMDEDUP_K, t=SEMDEDUP_TARGET_CELL
)


LITERAL_QUANTIZER_MAX_K = 32  # above this the single-expression path chokes


def _assigned_cells(emb: DataFrame, pivots) -> DataFrame:
    """(vec_id, embedding, cell): each vector's nearest pivot, by the
    bit-portable (d2, cell) argmin.

    Two plans, one result (equality pytest-pinned at k=16):
    - k <= {maxk}: the LITERAL path — all k distance folds in one
      projection expression, zero shuffle (the driver-SF shape, shared
      with ann_ivf_det_topk).
    - k > {maxk}: the ARROW path — pivots ride the task closure as a
      (k × dim) float64 constant; each batch computes all n·k distances
      in numpy with dimension-major left-associated accumulation (the
      ``cosine_pairs_arrow`` discipline) and takes the (d2, cell) argmin.
      The expression alternatives both fail at scale, measured on the
      ×10 corpus at k=160: one giant k-fold projection sends Catalyst
      analysis/codegen superlinear (×55 step, the :func:`_bucket_col`
      blowup), and a broadcast-pivot crossJoin pays an interpreted
      ~7 µs lambda fold per (vector, pivot) row — 23 s of the 28 s query
      for 3.2M folds (hidden from `.count()` probes, which prune the
      fold away).

    Both paths compute the identical arithmetic (pivot floats are exact
    doubles either way; numpy accumulates per pair in the same order as
    the fold), so the argmin — and every hash downstream — matches
    (path-equality pytest)."""
    if len(pivots) <= LITERAL_QUANTIZER_MAX_K:
        ranked = _ivf_det_ranked(pivots)
        return emb.select("vec_id", "embedding", ranked[0]["cell"].alias("cell"))
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    pmat = np.array([v for _, v in pivots], dtype="float64")  # (k, dim)
    cell_ids = np.array([c for c, _ in pivots], dtype="int64")
    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("cell", IntegerType()),
        ]
    )

    # GEMM + exact refinement (r08, found by the FIFTH decade): the
    # dimension-major (n × k) loop is exact but does n·k·dim element ops
    # through full-size temporaries — at the 100× corpus (n=200k, k=1600,
    # the semdedup_k rule) it cost 203 s of the query's 216 s. BLAS does
    # the same flops as ONE matmul (‖x‖² + ‖p‖² − 2·x@pᵀ) orders of
    # magnitude faster, but its summation order differs from the fold, so
    # its d2 is only approximate (|err| ≤ ~dim·ulp·scale ≈ 1e-11 here).
    # Exactness is recovered by REFINEMENT: any pivot that could exactly
    # beat the approx-argmin must have approx-d2 within 2·err of the
    # minimum, so re-folding (dimension-major, the oracle's exact order)
    # ONLY the rows whose near-minimum candidate set has >1 member — rare
    # on real data — yields the bit-identical (d2, cell) argmin at GEMM
    # speed. MARGIN is 5e-7 scaled by the row's TERM MAGNITUDE
    # 2·(‖x‖² + max‖p‖²), not by the min distance (ADVICE r08): the GEMM
    # cancellation error grows with the cancelled terms, so a huge-norm
    # embedding whose nearest pivot is near-zero distance would slip past
    # a |mins|-relative margin. The true bound is d2 = ‖x−p‖² ≤
    # 2(‖x‖²+‖p‖²) ≤ 2(‖x‖²+max‖p‖²) (Cauchy–Schwarz; ADVICE r09 — the
    # r08 comment claimed the unfactored form bounded d2, which is off
    # by up to 2×, so the scale now carries the factor 2 and the stated
    # invariant is the one actually true). The margin thus dominates
    # dim·ulp·scale (~1e-11 at O(1) norms) by >4 orders of magnitude at
    # ANY norm; enlarging the margin can only ADD rows to the exact
    # refinement set (which recomputes their argmin exactly), so the 2×
    # cannot change any result — candidate sets stay singletons almost
    # everywhere. Measured at 100×: 203.6 s → see SCALING.md r08 fifth
    # decade. Path-equality vs the literal fold stays pytest-pinned.
    _MARGIN = 5e-7

    def assign(batches):
        import pandas as pd

        p2 = (pmat * pmat).sum(axis=1)  # (k,)
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf["embedding"].isna().any():
                raise ValueError("_assigned_cells: null embedding in batch")
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            n, dim = x.shape
            if dim != pmat.shape[1]:
                raise ValueError(
                    f"_assigned_cells: embedding dim {dim} != pivot dim "
                    f"{pmat.shape[1]}"
                )
            # Chunk the GEMM over i-rows so the (rows × k) distance matrix
            # and its ~3 same-shape temporaries stay bounded at any k: the
            # semdedup_k rule makes k ∝ n, and at the SIXTH decade
            # (n=2M, k=16000) a full 10k-row Arrow batch would materialize
            # ~3-4 GB of float64 temporaries PER TASK — ×32 local tasks is
            # the whole box. chunk·k ≤ 4M elements caps it at ~100 MB/task
            # regardless of corpus size; per-row arithmetic (and therefore
            # every downstream hash) is unchanged by the split.
            chunk = max(64, 4_000_000 // max(1, len(cell_ids)))
            best = np.empty(n, dtype="int64")
            p2max = p2.max() if len(p2) else 0.0
            for lo in range(0, n, chunk):
                xc = x[lo : lo + chunk]
                x2 = (xc * xc).sum(axis=1)
                d2 = x2[:, None] - 2.0 * (xc @ pmat.T) + p2[None, :]
                mins = d2.min(axis=1)
                # margin ∝ term magnitude (the cancellation-error scale),
                # never the min distance, which can be ~0 at large norms;
                # factor 2: d2 ≤ 2(‖x‖²+max‖p‖²) is the true row bound
                margin = _MARGIN * np.maximum(1.0, 2.0 * (x2 + p2max))
                cand_mask = d2 <= (mins + margin)[:, None]
                # argmin returns the FIRST minimum; pivot columns are in
                # ascending cell order, so ties resolve to the smaller
                # cell — the (d2, cell) ordering both engines use.
                bc = cell_ids[np.argmin(d2, axis=1)].copy()
                multi = np.flatnonzero(cand_mask.sum(axis=1) > 1)
                for i in multi:
                    # exact fold for the (few) contested rows: left-to-
                    # right over dims, candidates in ascending cell order
                    best_d2, best_cell = None, None
                    for j in np.flatnonzero(cand_mask[i]):
                        acc = 0.0
                        for d in range(dim):
                            diff = xc[i, d] - pmat[j, d]
                            acc += diff * diff
                        if best_d2 is None or acc < best_d2:
                            best_d2, best_cell = acc, cell_ids[j]
                    bc[i] = best_cell
                best[lo : lo + chunk] = bc
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "cell": best.astype("int32"),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(assign, out_schema)


_assigned_cells.__doc__ = _assigned_cells.__doc__.format(
    maxk=LITERAL_QUANTIZER_MAX_K
)


SEMDEDUP_BLOCK_CHUNK = 1024  # i-rows per chunk: bounds block memory at m·chunk


def _semdedup_removed_blocked(cells: DataFrame) -> DataFrame:
    """(vec_id) of every vector with a smaller-id near-duplicate in its
    cell — the SemDeDup drop set, computed per-cell in numpy.

    Input: (vec_id, embedding, cell, nrm). Each cell's m vectors arrive as
    ONE pandas group (`groupBy(cell).applyInPandas`), so pair rows never
    materialize: the exchange carries n vector rows, each block computes
    its m×m cosines in-process and emits only removed ids (output bounded
    by the dup count). Dots accumulate dimension-major left-associated
    (acc starts 0, adds a_d·b_d one dimension at a time, vectorized across
    the block) and divide by the JVM-computed norms — the identical double
    sequence as the expression fold, so verdicts stay bit-identical to
    the DuckDB oracle. Chunked over i-rows: peak memory is
    SEMDEDUP_BLOCK_CHUNK·m doubles, not m²."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([StructField("vec_id", LongType())])

    def block(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"vec_id": np.array([], dtype="int64")})
        if pdf["embedding"].isna().any():
            raise ValueError("semdedup block: null embedding in cell")
        a = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        nrm = pdf["nrm"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        removed = np.zeros(m, dtype=bool)
        dim = a.shape[1]
        for i0 in range(0, m, SEMDEDUP_BLOCK_CHUNK):
            i1 = min(i0 + SEMDEDUP_BLOCK_CHUNK, m)
            acc = np.zeros((i1 - i0, m))
            for d in range(dim):
                acc += a[i0:i1, d : d + 1] * a[None, :, d]
            cos = acc / (nrm[i0:i1, None] * nrm[None, :])
            # pair (i, j) with i < j (ids ascending) and cos >= tau → j out
            hit = cos >= SEMDEDUP_TAU
            # mask out j <= i (lower triangle incl. diagonal, global index)
            jj = np.arange(m)[None, :]
            ii = np.arange(i0, i1)[:, None]
            hit &= jj > ii
            removed |= hit.any(axis=0)
        return pd.DataFrame({"vec_id": ids[removed]})

    return cells.groupBy("cell").applyInPandas(block, out_schema)


def _semdedup_k_sql() -> str:
    """:func:`semdedup_k` as a DuckDB expression — the oracle picks the
    SAME adaptive pivot count as the Spark builder (computed LIMIT), so
    the contract holds at ANY corpus size, not just the SFs where
    k == SEMDEDUP_K (code-review r06: the fixed-k oracle silently broke
    past 2000 vectors)."""
    return (
        f"(SELECT greatest({SEMDEDUP_K},"
        f" -(-COUNT(*) // {SEMDEDUP_TARGET_CELL})) FROM embeddings)"
    )


def _semdedup_oracle() -> str:
    cos = (
        f"{_sql_dot_unrolled('a.embedding', 'b.embedding')}"
        f" / (sqrt({_sql_dot_unrolled('a.embedding', 'a.embedding')})"
        f" * sqrt({_sql_dot_unrolled('b.embedding', 'b.embedding')}))"
    )
    return f"""
    WITH {_pivot_cells_ctes(_semdedup_k_sql())},
    removed AS (
      SELECT DISTINCT b.vec_id
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos} >= {SEMDEDUP_TAU})
    SELECT c.vec_id, c.cell,
           (r.vec_id IS NULL) AS is_kept
    FROM cells c LEFT JOIN removed r ON r.vec_id = c.vec_id
    """


@register(
    "semdedup_clusters",
    oracle=_semdedup_oracle(),
    tags=("similarity", "dedup", "north-star", "semdedup"),
)
def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by clustering embeddings
    into k coarse cells, then removing all-but-one of every within-cell
    near-duplicate group — the embedding-space sibling of MinHash-LSH that
    catches paraphrases exact n-grams miss. The reference engine has no
    counterpart; this is part of the added LLM-pipeline surface
    (SURVEY.md §2 [NORTH-STAR]).

    Determinism: cells come from the md5-ranked pivot quantizer shared with
    :func:`ann_ivf_det_topk` (k = {k}) — no RNG, no training fixpoint — and
    the drop rule is "remove v iff SOME same-cell vector with a smaller
    vec_id has cosine >= tau", the greedy keep-first sweep, so the verdict
    column is bit-replicable in the oracle.

    Plan shape at 100 TB: assignment is one narrow projection per row
    (k literal-distance folds, no shuffle); the quadratic cosine check is
    confined within cells, and k GROWS with the corpus
    (:func:`semdedup_k`, cell target {t} — a parquet-footer row count
    picks k with zero Spark jobs) so the worst block stays ~constant and
    total pair work scales linearly — the rule that took the measured
    ×10-corpus step from ×76 to near-linear (SCALING.md r06). The removed
    set joins back as a broadcast-able distinct-id relation.
    """
    from imdb_mapreduce_spark.sources.star import parquet_num_rows

    emb = load_table(spark, "embeddings", sf_dir)
    try:
        n_vec = parquet_num_rows(f"{sf_dir}/embeddings.parquet")
    except (OSError, ValueError):
        # The oracle always derives the adaptive k from COUNT(*); if the
        # footer probe fails (non-parquet layout, multi-file dir) the
        # Spark side must compute the SAME count, not fall back to a
        # fixed k, or the two engines silently pick different pivot
        # counts and every downstream verdict diverges (ADVICE r06).
        n_vec = emb.count()
    pivots = ivf_det_pivots(spark, sf_dir, k=semdedup_k(n_vec))
    # Per-vector norm computed ONCE here (r06): the within-cell pair join
    # then folds a single dot per pair instead of re-deriving both norms
    # pair-side — sqrt(a)*sqrt(b) then divide is the same double sequence,
    # so the thresholded cosine stays bit-identical to the oracle.
    cells = _assigned_cells(emb, pivots).select(
        "vec_id", "embedding", "cell", norm("embedding").alias("nrm")
    )
    # Materialize the assignment: it is consumed twice (block scoring +
    # the verdict join), and letting the grouped-map exchange re-derive
    # it re-ran the whole quantizer join at 10× (measured 27 s vs 2.3 s
    # on the materialized frame). This is the persisted-IVF-index move —
    # at production scale `cells` IS the index you keep on disk
    # (ann_ivf's PartitionFilters read path), not a per-query recompute.
    cells = cells.localCheckpoint(eager=True)
    # Within-cell scoring as per-CELL block compute (applyInPandas): the
    # r06 decade profile showed the pair-row join itself — 3.6M rows each
    # carrying two 64-float arrays, ~2 GB materialized — costing 26 s of
    # the 33 s query, with scoring nearly free. Grouping by cell ships
    # each vector ONCE (n narrow rows through one exchange), scores the
    # m×m block in numpy with the same dimension-major left-associated
    # accumulation as cosine_pairs_arrow (bit-identical cosines), and
    # emits only the removed ids. Row-chunked so a pathological mega-cell
    # is bounded-memory instead of an m² allocation.
    # Each vector belongs to exactly ONE cell, so the block scorer emits a
    # removed id at most once — no distinct needed (code-review r06: the
    # distinct added a full extra exchange for nothing).
    removed = _semdedup_removed_blocked(cells)
    # No broadcast hint on the removed set: on a dup-heavy corpus it
    # approaches |corpus| rows, so the verdict join must be allowed to
    # shuffle — AQE broadcasts it from runtime size when it is small
    # (every test SF), and falls back safely when it is not.
    return cells.join(
        removed.withColumn("_rm", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        F.coalesce(~F.col("_rm"), F.lit(True)).alias("is_kept"),
    )


semdedup_clusters.__doc__ = semdedup_clusters.__doc__.format(
    k=SEMDEDUP_K, t=SEMDEDUP_TARGET_CELL
)


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training (r06)
# ---------------------------------------------------------------------------

HARD_NEG_K = 5


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (SELECT vec_id, label, embedding FROM embeddings
               WHERE vec_id < {{nq}}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS negative_id, c.label AS neg_label,
             {_SQL_DOT.format(a="q.embedding", b="c.embedding")}
               / (sqrt({_SQL_DOT.format(a="q.embedding", b="q.embedding")})
                  * sqrt({_SQL_DOT.format(a="c.embedding", b="c.embedding")})) AS cosine
      FROM q JOIN embeddings c ON c.label <> q.label)
    SELECT query_id, negative_id, neg_label, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, negative_id) AS rnk
      FROM scored) t
    WHERE rnk <= {{k}}
    """.format(nq=N_QUERIES, k=HARD_NEG_K),
    tags=("similarity", "north-star", "training-data"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for contrastive/embedding training: for each query
    vector, the top-k most-similar vectors carrying a DIFFERENT label —
    the mining step behind retrieval training sets (DPR/Contriever style),
    where "close but wrong" examples teach the margin. Same broadcast ×
    corpus-scan plan as :func:`ann_cosine_topk` (the label filter rides the
    scan; at 100 TB the brute scorer swaps for the IVF/LSH candidate path
    with the identical filter), so per-query cost is one corpus pass."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
        norm("embedding").alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neg_label") != F.col("q_label"))
        .select(
            "query_id",
            "negative_id",
            "neg_label",
            (dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= HARD_NEG_K)
        .select("query_id", "negative_id", "neg_label", "cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# Per-dimension feature profile (r06): normalization stats for training
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_profile",
    oracle="""
    WITH ex AS (
      SELECT unnest(generate_series(1, len(embedding))) AS dim,
             unnest(list_transform(generate_series(1, len(embedding)),
                    i -> CAST(embedding[i] AS DOUBLE))) AS v
      FROM embeddings),
    agg AS (
      SELECT dim,
             COUNT(*) AS n_vals,
             CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS ss,
             MIN(v) AS min_val,
             MAX(v) AS max_val
      FROM ex GROUP BY dim)
    SELECT dim, n_vals,
           s / CAST(n_vals AS DOUBLE) AS mean,
           sqrt(greatest(
             ss / CAST(n_vals AS DOUBLE)
               - (s / CAST(n_vals AS DOUBLE)) * (s / CAST(n_vals AS DOUBLE)),
             CAST(0 AS DOUBLE))) AS std,
           min_val, max_val
    FROM agg
    """,
    tags=("similarity", "north-star", "feature-stats"),
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION feature statistics over the embedding column (mean /
    std / min / max for each of the 64 dims) — the normalization table
    every training pipeline computes before standardizing features or
    whitening embeddings.

    Parity: sums go through exact DECIMAL(38,6) (order-independent), and
    mean/std are then the IDENTICAL double expression in both engines
    (sqrt(greatest(E[x²]−E[x]², 0))), so the floats match bitwise. Plan
    shape: posexplode → one map-side-combining groupBy on a 64-value key —
    a single exchange of 64·partitions partial rows regardless of corpus
    size (the textbook associative-agg scaling shape)."""
    emb = load_table(spark, "embeddings", sf_dir)
    ex = emb.select(F.posexplode("embedding").alias("pos", "vf")).select(
        (F.col("pos") + 1).alias("dim"), F.col("vf").cast("double").alias("v")
    )
    agg = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum(F.col("v").cast("decimal(38,6)")).cast("double").alias("s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,6)")).cast("double").alias("ss"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )
    nd = F.col("n_vals").cast("double")
    mean = F.col("s") / nd
    return agg.select(
        "dim",
        "n_vals",
        mean.alias("mean"),
        F.sqrt(
            F.greatest(
                F.col("ss") / nd - (F.col("s") / nd) * (F.col("s") / nd),
                F.lit(0.0),
            )
        ).alias("std"),
        "min_val",
        "max_val",
    )


def _hard_neg_lsh_oracle() -> str:
    """The ``_ann_lsh_oracle`` shape with the cross-label filter riding the
    candidate join — same plane literals, same folds, label columns from
    the embeddings table."""
    planes = _hyperplanes(LSH_TABLES, LSH_PLANES)
    buckets = ",\n             ".join(
        f"{_bucket_sql(p)} AS b{t}" for t, p in enumerate(planes)
    )
    per_table = "\n        UNION ALL ".join(
        f"SELECT a.vec_id AS query_id, b.vec_id AS negative_id\n"
        f"         FROM buck a JOIN buck b ON a.b{t} = b.b{t}\n"
        f"         WHERE a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id"
        for t in range(LSH_TABLES)
    )
    cos = (
        f"{_sql_dot_unrolled('q.embedding', 'c.embedding')}"
        f" / (sqrt({_sql_dot_unrolled('q.embedding', 'q.embedding')})"
        f" * sqrt({_sql_dot_unrolled('c.embedding', 'c.embedding')}))"
    )
    return f"""
    WITH buck AS MATERIALIZED (
      SELECT vec_id,
             {buckets}
      FROM embeddings),
    cand AS (
      SELECT DISTINCT query_id, negative_id FROM (
        {per_table}) u),
    scored AS (
      SELECT p.query_id, p.negative_id, c.label AS neg_label, {cos} AS cosine
      FROM cand p
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings c ON c.vec_id = p.negative_id
      WHERE c.label <> q.label)
    SELECT query_id, negative_id, neg_label, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, negative_id) AS rnk
      FROM scored) t
    WHERE rnk <= {HARD_NEG_K}
    """


@register(
    "hard_negative_lsh",
    oracle=_hard_neg_lsh_oracle(),
    tags=("similarity", "north-star", "training-data", "lsh"),
)
def hard_negative_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for :func:`hard_negative_mining`: candidates come
    from the sign-LSH bucket collisions (sub-linear per query — the
    ``ann_lsh_topk`` machinery) and the cross-label filter rides the
    candidate set, so per-query cost is bucket-bounded instead of one
    full corpus scan. Recall against the brute-force miner is measured in
    tests (same regime as the ANN recall pytest — identical knobs).

    Plan: Arrow-exact bucket build (one per-vector cost), bucket-equi
    candidate join with the tiny query side broadcast, labels attached as
    (a) a broadcast of the N_QUERIES query labels and (b) a key join of
    the candidate list against the corpus label projection (candidates ≪
    corpus at production knobs; AQE picks the strategy from runtime
    sizes), then the per-query top-k window over scored survivors."""
    emb = load_table(spark, "embeddings", sf_dir)
    bucketed = random_hyperplane_buckets_arrow(emb, exact=True)
    q_labels = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    # r16 (guide §4, same fix as ann_lsh_topk): bucket the pre-filtered
    # query rows instead of filtering ABOVE the kernel — the predicate
    # cannot push through mapInPandas, so the broadcast build was running
    # the full-corpus bucket kernel to keep N_QUERIES rows. Per-row
    # kernel, so bit-identical buckets; vec_id now pushes to the scan.
    q = (
        random_hyperplane_buckets_arrow(
            emb.filter(F.col("vec_id") < N_QUERIES), exact=True
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("table").alias("qt"),
            F.col("bucket").alias("qb"),
            norm("embedding").alias("qn"),
        )
        .join(F.broadcast(q_labels), "query_id")
    )
    c = bucketed.select(
        F.col("vec_id").alias("negative_id"),
        F.col("embedding").alias("ce"),
        F.col("table").alias("ct"),
        F.col("bucket").alias("cb"),
        norm("embedding").alias("cn"),
    )
    labels = emb.select(
        F.col("vec_id").alias("negative_id"), F.col("label").alias("neg_label")
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("qt") == F.col("ct"))
            & (F.col("qb") == F.col("cb"))
            & (F.col("negative_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "q_label",
            "negative_id",
            (dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
        .distinct()
        .join(labels, "negative_id")
        .filter(F.col("neg_label") != F.col("q_label"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= HARD_NEG_K)
        .select("query_id", "negative_id", "neg_label", "cosine", "rnk")
    )


SEMDEDUP_EVAL_N = 500  # truth sample bound: all-pairs stays 125k at ANY SF
RECALL_SCALE = 1_000_000  # integer recall unit, shared by Spark expr + oracle


def _semdedup_eval_oracle() -> str:
    cos = (
        f"{_sql_dot_unrolled('a.embedding', 'b.embedding')}"
        f" / (sqrt({_sql_dot_unrolled('a.embedding', 'a.embedding')})"
        f" * sqrt({_sql_dot_unrolled('b.embedding', 'b.embedding')}))"
    )
    return f"""
    WITH samp AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {SEMDEDUP_EVAL_N}),
    {_pivot_cells_ctes(_semdedup_k_sql(), assign_src="samp")},
    truth AS (
      SELECT a.cell AS ca, b.cell AS cb
      FROM cells a JOIN cells b ON a.vec_id < b.vec_id
      WHERE {cos} >= {SEMDEDUP_TAU})
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sample,
           CAST(COUNT(*) AS BIGINT) AS n_truth_pairs,
           CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
             AS n_detected_pairs,
           CAST(({RECALL_SCALE} * SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END))
                // greatest(COUNT(*), 1) AS BIGINT) AS recall_scaled
    FROM truth
    """


@register(
    "semdedup_eval_metrics",
    oracle=_semdedup_eval_oracle(),
    tags=("similarity", "dedup", "eval", "north-star", "semdedup"),
)
def semdedup_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup audits its own scale path (the ``minhash_eval_metrics``
    pattern): ground truth = ALL near-dup pairs (cosine >= tau) in a
    bounded id sample; detected = the subset landing in the SAME coarse
    cell — i.e. exactly the pairs the cell-blocked production query can
    see. Precision is 1 by construction (within-cell pairs score exact
    cosine); the metric that matters is RECALL, the fraction of true dup
    pairs the k-cell blocking keeps adjacent. Integer-scaled recall keeps
    the row hash-portable.

    The truth side is deliberately SAMPLE-BOUNDED ({n} ids → ≤{p}
    pairs at every SF): an unbounded all-pairs truth would be the exact
    quadratic tier this family exists to avoid; a bounded audit riding
    every corpus build is the honest production practice.

    Regime note (same as the LSH recall tests): this synthetic corpus is
    near-orthogonal — tau sits in the bulk of the cosine spread, so
    "duplicates" scatter across cells and k=16 recall reads ~21%. Real
    near-dup corpora concentrate dup pairs at cosine > 0.9, far inside a
    cell's radius, where within-cell recall is high; the knobs when the
    audit reads low are fewer/larger cells or multi-cell (nprobe-style)
    checking, and this query is precisely the meter for tuning them."""
    from imdb_mapreduce_spark.sources.star import parquet_num_rows

    emb = load_table(spark, "embeddings", sf_dir)
    samp = emb.filter(F.col("vec_id") < SEMDEDUP_EVAL_N)
    try:
        n_vec = parquet_num_rows(f"{sf_dir}/embeddings.parquet")
    except (OSError, ValueError):
        # Same count the oracle's COUNT(*) uses — never a fixed-k
        # fallback, which would desynchronize Spark and oracle blocking
        # on corpora over the adaptive threshold (ADVICE r06).
        n_vec = emb.count()
    # the audit must meter the PRODUCTION blocking: same adaptive k rule
    pivots = ivf_det_pivots(spark, sf_dir, k=semdedup_k(n_vec))
    cells = (
        _assigned_cells(samp, pivots)
        .select("vec_id", "embedding", "cell", norm("embedding").alias("nrm"))
        # bounded (<= SEMDEDUP_EVAL_N rows) and consumed three times
        # (both pair sides + the cell-label maps): materialize once
        .localCheckpoint(eager=True)
    )
    a = cells.select(
        F.col("vec_id").alias("vec1"),
        F.col("embedding").alias("e1"),
        F.col("nrm").alias("n1"),
        F.col("cell").alias("ca"),
    )
    b = cells.select(
        F.col("vec_id").alias("vec2"),
        F.col("embedding").alias("e2"),
        F.col("nrm").alias("n2"),
        F.col("cell").alias("cb"),
    )
    # Sample-bounded pair set (≤125k rows), scored on the Arrow path —
    # bit-identical to the fold (cosine_pairs_arrow) and ~4× faster than
    # the interpreted per-pair lambda at this size.
    pairs = F.broadcast(a).join(b, F.col("vec1") < F.col("vec2"))
    scored = cosine_pairs_arrow(
        pairs.select("vec1", "vec2", "e1", "e2", "n1", "n2")
    ).filter(F.col("cosine") >= SEMDEDUP_TAU)
    cmap_a = cells.select(F.col("vec_id").alias("vec1"), F.col("cell").alias("ca"))
    cmap_b = cells.select(F.col("vec_id").alias("vec2"), F.col("cell").alias("cb"))
    truth = (
        scored.join(F.broadcast(cmap_a), "vec1")
        .join(F.broadcast(cmap_b), "vec2")
        .select("ca", "cb")
    )
    n_sample = samp.count()  # bounded driver scalar (<= SEMDEDUP_EVAL_N)
    det = F.sum(F.when(F.col("ca") == F.col("cb"), 1).otherwise(0))
    return truth.agg(
        F.lit(n_sample).cast("long").alias("n_sample"),
        F.count(F.lit(1)).alias("n_truth_pairs"),
        det.cast("long").alias("n_detected_pairs"),
        F.expr(
            f"CAST(({RECALL_SCALE} * SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END))"
            " div greatest(COUNT(1), 1) AS BIGINT)"
        ).alias("recall_scaled"),
    )


semdedup_eval_metrics.__doc__ = semdedup_eval_metrics.__doc__.format(
    n=SEMDEDUP_EVAL_N, p=SEMDEDUP_EVAL_N * (SEMDEDUP_EVAL_N - 1) // 2
)


def _ann_recall_oracle() -> str:
    """Composes the two REGISTERED oracles (truth = brute top-k, candidate
    = LSH top-k) as parenthesized subqueries — the eval is definitionally
    tied to exactly what the registered queries return."""
    from imdb_mapreduce_spark.plans.registry import _REGISTRY

    brute = _REGISTRY["ann_cosine_topk"].oracle
    lsh = _REGISTRY["ann_lsh_topk"].oracle
    return f"""
    SELECT b.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CAST(({RECALL_SCALE}
                 * SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS recall_scaled
    FROM ({brute}) b
    LEFT JOIN ({lsh}) l
      ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """


@register(
    "ann_recall_eval",
    oracle=_ann_recall_oracle(),
    tags=("similarity", "eval", "ann", "north-star"),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN audits its own scale path (completing the eval trilogy with
    ``minhash_eval_metrics`` and ``semdedup_eval_metrics``): per-query
    recall of the LSH top-k against the brute-force truth top-k, by
    COMPOSING the two registered builders — the eval can never drift from
    what the production queries actually compute. Truth is bounded by
    N_QUERIES·TOP_K rows at any corpus size, so the join side is always a
    broadcast-scale relation; integer-scaled recall keeps the row
    hash-portable."""
    truth = ann_cosine_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("t_id")
    )
    got = ann_lsh_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("l_id"), F.lit(True).alias("_hit")
    )
    joined = truth.join(
        F.broadcast(got),
        (truth["query_id"] == got["query_id"]) & (F.col("t_id") == F.col("l_id")),
        "left",
    ).select(truth["query_id"], "_hit")
    hit = F.sum(F.when(F.col("_hit"), 1).otherwise(0))
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_truth"),
        hit.cast("long").alias("n_hit"),
        F.expr(
            f"CAST(({RECALL_SCALE} * SUM(CASE WHEN _hit THEN 1 ELSE 0 END))"
            " div COUNT(1) AS BIGINT)"
        ).alias("recall_scaled"),
    )
