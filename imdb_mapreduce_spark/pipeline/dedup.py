"""Deduplication operators over the ``documents`` table ([NORTH-STAR]).

Four tiers, each the idiomatic scale path:

1. **Exact** — content fingerprint (md5 of normalized text) + hash groupBy.
   One shuffle on the fingerprint; survivor = min doc_id. At 100 TB this is
   the cheapest possible dedup and the fingerprint doubles as a stable
   document id.
2. **N-gram Jaccard** — word-5-shingles, explode → self-join on shingle →
   pairwise intersection counts → Jaccard. Exactly SQL-expressible, so it
   carries a full DuckDB oracle. Scale guard: drop ultra-frequent shingles
   (stop-shingles) before the join — a shingle shared by f docs contributes
   f² join rows.
3. **MinHash + LSH** — k min-hashes per doc (one md5 per shingle, then
   k universal-hash permutations), banded into LSH buckets; candidate
   pairs = bucket-join, then verified with exact Jaccard. Sub-quadratic:
   the only pairwise work is within buckets. md5 and BIGINT arithmetic
   are bit-identical in both engines, so it carries a full DuckDB oracle.
4. **SimHash** — 64-bit bit-vote signature; near-dup = small Hamming
   distance, banded by 16-bit chunks for sub-quadratic candidate gen.
   Its token hashes are md5-derived, so it carries a full oracle too.

An embedding-cosine near-dup variant lives in ``pipeline/similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdb_mapreduce_spark.plans.registry import register
from imdb_mapreduce_spark.sources.star import load_table

MINHASH_PERMS = 32
LSH_BANDS = 8  # 8 bands × 4 rows
SHINGLE_WORDS = 5

# The distinct word-shingle list per document, as ONE DuckDB expression —
# the single source of truth every shingle-join oracle interpolates
# (code-review r06: nine hand-copied variants risked silent cross-engine
# drift on any future change to the shingle rule).
SHINGLE_LIST_SQL = (
    "list_distinct(list_transform(\n"
    "                 generate_series(1, greatest(len(string_split(text, ' '))"
    f" - {SHINGLE_WORDS - 1}, 1)),\n"
    "                 i -> array_to_string((string_split(text, ' '))"
    f"[i:i+{SHINGLE_WORDS - 1}], ' ')))"
)


def normalized_text(col: str = "text") -> Column:
    return F.lower(F.trim(F.col(col)))


def fingerprint(col: str = "text") -> Column:
    """Content fingerprint: md5 of normalized text (stable across engines,
    partitionings, and runs — unlike hash/xxhash64 which are fine internally
    but not portable to the oracle)."""
    return F.md5(normalized_text(col))


def word_shingles(toks_col: str = "toks", k: int = SHINGLE_WORDS) -> Column:
    """Distinct k-word shingles over a PRE-SPLIT token array column.

    Tokens must be materialized as their own column first: referencing
    ``split(text)`` inside the transform lambda would re-split the string
    once per index — O(words²) per doc.

    Short docs (<k words) get one shingle = whole text, so every doc has
    ≥1 shingle (keeps Jaccard total).
    """
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size({toks_col}) - {k - 1}, 1)),"
            f" i -> array_join(slice({toks_col}, i, {k}), ' '))"
        )
    )


def exploded_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) pairs + per-doc shingle count."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", word_shingles("toks").alias("shingles"))
        .select(
            "doc_id",
            F.size("shingles").alias("n_shingles"),
            F.explode("shingles").alias("sh"),
        )
    )


# ---------------------------------------------------------------------------
# Tier 1 — exact
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(lower(trim(text))) AS fp,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup", "north-star"),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups: fingerprint → count + survivor id."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy(fingerprint().alias("fp")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id")
    )


@register(
    "dedup_exact_survivors",
    oracle="""
    SELECT MIN(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
    tags=("dedup", "north-star"),
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: one surviving doc_id per fingerprint."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy(fingerprint().alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")


# ---------------------------------------------------------------------------
# Tier 2 — n-gram Jaccard (full oracle)
# ---------------------------------------------------------------------------

@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH lists AS MATERIALIZED (
      -- shingle list computed ONCE per doc, not once per referencing expr
      SELECT doc_id,
             {SHINGLE_LIST_SQL} AS shl
      FROM documents),
    sh AS (
      SELECT doc_id, len(shl) AS n_shingles, unnest(shl) AS sh FROM lists)
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           COUNT(*) AS shared,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(ANY_VALUE(a.n_shingles) + ANY_VALUE(b.n_shingles) - COUNT(*) AS DOUBLE)
             AS jaccard
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
    tags=("dedup", "north-star", "jaccard"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs sharing ≥1 word-5-shingle, with exact Jaccard
    similarity. The shingle self-join shuffles on the shingle string; at
    100 TB add a stop-shingle filter (HAVING count ≤ f_max) before the join
    and/or go through tier 3 (MinHash) first."""
    docs = load_table(spark, "documents", sf_dir)
    sh = exploded_shingles(docs)
    # identical-side self-join: shuffle_hash makes both sides share ONE
    # exchange (ReusedExchange), computing the shingles once — measured 2x
    # faster than the default broadcast plan, which materializes both sides
    a = sh.alias("a").hint("shuffle_hash")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(
            F.count("*").alias("shared"),
            (
                F.count("*").cast("double")
                / (
                    F.any_value(F.col("a.n_shingles"))
                    + F.any_value(F.col("b.n_shingles"))
                    - F.count("*")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


STOP_SHINGLE_MAX_FREQ = 50


@register(
    "ngram_jaccard_capped",
    oracle=f"""
    WITH lists AS MATERIALIZED (
      -- shingle list computed ONCE per doc, not once per referencing expr
      SELECT doc_id,
             {SHINGLE_LIST_SQL} AS shl
      FROM documents),
    sh_all AS (
      SELECT doc_id, len(shl) AS n_shingles, unnest(shl) AS sh FROM lists),
    keep AS (
      SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= {STOP_SHINGLE_MAX_FREQ}),
    sh AS (SELECT a.* FROM sh_all a SEMI JOIN keep k ON a.sh = k.sh)
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           COUNT(*) AS shared,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(ANY_VALUE(a.n_shingles) + ANY_VALUE(b.n_shingles) - COUNT(*) AS DOUBLE)
             AS jaccard_lower_bound
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
    tags=("dedup", "north-star", "jaccard", "scale"),
)
def ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier 2 with the stop-shingle cap — THE 100 TB guard for shingle
    joins: a shingle appearing in f docs contributes f² join rows, so
    ultra-frequent shingles (boilerplate, headers) are dropped before the
    self-join. The per-pair ratio keeps the ORIGINAL shingle counts in the
    denominator, making it a Jaccard lower bound (candidates then verify
    exactly via verify_pairs_jaccard).

    The frequency guard is a COUNT window over the sh partition, not a
    groupBy + semi-join keep-list: same semantics, one exchange fewer
    (r05 measurement, sf0.1 min-of-3: 2.54 s vs 4.33 s for the
    keep-list plan). A postings-list pair generator (collect_list per
    shingle, one exchange total) measured the same 2.6 s here but holds
    an unbounded per-shingle array before its size filter can apply —
    the window's sort spills instead, so it is the shape that survives a
    boilerplate-heavy corpus."""
    docs = load_table(spark, "documents", sf_dir)
    sh = exploded_shingles(docs)
    sh = (
        sh.withColumn("_f", F.count("*").over(Window.partitionBy("sh")))
        .filter(F.col("_f") <= STOP_SHINGLE_MAX_FREQ)
        .drop("_f")
    )
    a = sh.alias("a").hint("shuffle_hash")  # exchange reuse (see above)
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(
            F.count("*").alias("shared"),
            (
                F.count("*").cast("double")
                / (
                    F.any_value(F.col("a.n_shingles"))
                    + F.any_value(F.col("b.n_shingles"))
                    - F.count("*")
                ).cast("double")
            ).alias("jaccard_lower_bound"),
        )
    )


# Threshold for the prefiltered pairs query below AND for cluster building
# (dedup_clusters): pairs below this Jaccard are not duplicates.
PAIR_JACCARD_THR = 0.1


@register(
    "ngram_jaccard_thresholded",
    oracle=f"""
    WITH lists AS MATERIALIZED (
      SELECT doc_id,
             {SHINGLE_LIST_SQL} AS shl
      FROM documents),
    sh AS (
      SELECT doc_id, len(shl) AS n_shingles, unnest(shl) AS sh FROM lists)
    SELECT * FROM (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             COUNT(*) AS shared,
             CAST(COUNT(*) AS DOUBLE)
               / CAST(ANY_VALUE(a.n_shingles) + ANY_VALUE(b.n_shingles) - COUNT(*) AS DOUBLE)
               AS jaccard
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    WHERE jaccard >= {PAIR_JACCARD_THR}
    """,
    tags=("dedup", "north-star", "jaccard", "scale"),
)
def ngram_jaccard_thresholded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier 2 with a similarity floor — the form every duplicate-cluster
    build actually consumes — plus the LENGTH-COMPATIBILITY prefilter
    (VERDICT r04 item 3): Jaccard(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a
    pair whose shingle counts differ by more than the threshold ratio can
    never pass the floor. The bound goes INTO the join condition, so
    incompatible pairs die at the hash-join probe instead of flowing
    through the pair aggregation. The final exact-Jaccard filter is
    unchanged — the prefilter is necessary-but-not-sufficient pruning, so
    the oracle needs no knowledge of it."""
    return jaccard_pairs_min_threshold(
        load_table(spark, "documents", sf_dir), PAIR_JACCARD_THR
    )


def jaccard_pairs_min_threshold(docs: DataFrame, thr: float) -> DataFrame:
    """Exact-Jaccard pairs with ``jaccard >= thr``, length-prefiltered.

    ``thr*|A| <= |B|`` and ``thr*|B| <= |A|`` are implied by
    ``jaccard >= thr`` (intersection ≤ min, union ≥ max), so adding them
    to the join condition prunes candidates without changing the result
    — the classic length filter from the set-similarity-join literature
    (PPJoin family), expressed relationally. A 1e-9 slack keeps the
    double multiply from over-pruning an exact-boundary pair (counts are
    integers, so the slack can only ADMIT boundary candidates — pruning
    less is always safe; the exact filter below decides)."""
    sh = exploded_shingles(docs)
    a = sh.alias("a").hint("shuffle_hash")
    b = sh.alias("b")
    lit_thr = F.lit(thr)
    eps = F.lit(1e-9)
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (lit_thr * F.col("a.n_shingles") <= F.col("b.n_shingles") + eps)
            & (lit_thr * F.col("b.n_shingles") <= F.col("a.n_shingles") + eps),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(
            F.count("*").alias("shared"),
            (
                F.count("*").cast("double")
                / (
                    F.any_value(F.col("a.n_shingles"))
                    + F.any_value(F.col("b.n_shingles"))
                    - F.count("*")
                ).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= lit_thr)
    )


# ---------------------------------------------------------------------------
# Tier 3 — MinHash + LSH (portable: md5 base hash, full oracle)
# ---------------------------------------------------------------------------


# Universal-hash permutation family for the portable minhash: h_i(x) =
# (a_i·x + b_i) mod p over a 28-bit base hash parsed from md5. p = 2^31−1
# (Mersenne); a_i·x ≤ 31+28 = 59 bits, so every product stays in BIGINT in
# both engines. Constants are generated HERE and inlined into both the
# Spark expressions and the oracle SQL — bit-identical by construction.
MINHASH_PRIME = 2_147_483_647
_PERM_CONSTS: list[tuple[int, int]] = [
    ((i * 2_654_435_761 + 104_729) % MINHASH_PRIME, (i * 40_503 + 17) % MINHASH_PRIME)
    for i in range(MINHASH_PERMS)
]
assert all(a != 0 for a, _ in _PERM_CONSTS)


def minhash_signatures_md5(docs: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, h0..h{perms-1}) — portable minhash: ONE md5 per shingle,
    parsed to a 28-bit int, then ``perms`` universal-hash permutations
    ``(a_i·h + b_i) mod p`` with literal constants.

    One explode + one groupBy: the signature build is a single shuffle
    regardless of perms. Every step exists identically in any SQL engine
    (md5 + integer arithmetic), so the whole LSH pipeline is
    SQL-oracle-checkable. The expression reference
    :func:`minhash_signatures_arrow` is tested against.
    """
    base = exploded_shingles(docs).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("sh")), 1, 7), 16, 10)
        .cast("long")
        .alias("h"),
    )
    mins = [
        F.min(
            (F.lit(a).cast("long") * F.col("h") + F.lit(b)) % MINHASH_PRIME
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(_PERM_CONSTS[:perms])
    ]
    return base.groupBy("doc_id").agg(*mins)


def lsh_candidate_pairs_md5(
    sigs: DataFrame, bands: int = LSH_BANDS, perms: int = MINHASH_PERMS
) -> DataFrame:
    """Banded LSH over md5 signatures: bucket = md5 of the comma-joined
    band slice; candidates = same-(band, bucket) pairs, one self-join per
    bucket. Sub-quadratic because only same-bucket docs pair up."""
    rpb = perms // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"h{b * rpb + j}").cast("string") for j in range(rpb)],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    a = banded.alias("a").hint("shuffle_hash")  # self-join exchange reuse
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )


_PERM_VALUES_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_PERM_CONSTS)
)


# Shared CTE prefix for every minhash-LSH oracle: shingles -> portable
# 28-bit md5 base hash -> permutation minima -> banded buckets -> distinct
# candidate pairs. Deferred %-style formatting is NOT used — this is a
# plain f-string evaluated at import, identical text in every consumer.
def _minhash_cand_ctes() -> str:
    return f"""
    WITH lists AS MATERIALIZED (
      SELECT doc_id,
             {SHINGLE_LIST_SQL} AS shl
      FROM documents),
    sh AS MATERIALIZED (
      SELECT doc_id, len(shl) AS n_shingles, unnest(shl) AS sh FROM lists),
    base AS MATERIALIZED (
      SELECT doc_id, ('0x' || substring(md5(sh), 1, 7))::BIGINT AS h FROM sh),
    sig AS MATERIALIZED (
      SELECT doc_id, p.i, MIN((p.a * h + p.b) % {MINHASH_PRIME}) AS minh
      FROM base CROSS JOIN (VALUES {_PERM_VALUES_SQL}) AS p(i, a, b)
      GROUP BY doc_id, p.i),
    bnd AS MATERIALIZED (
      SELECT doc_id, i // {MINHASH_PERMS // LSH_BANDS} AS band,
             md5(string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i)) AS bucket
      FROM sig GROUP BY doc_id, i // {MINHASH_PERMS // LSH_BANDS}),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM bnd a JOIN bnd b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""


@register(
    "minhash_lsh_dups",
    # Full relational replica of the portable-minhash pipeline: shingles →
    # 28-bit md5-derived base hash → per-permutation min of (a·h+b) mod p
    # → banded buckets → candidate self-join → exact-Jaccard verify.
    # Portable because md5 and BIGINT arithmetic are bit-identical in both
    # engines; the (i, a, b) VALUES literals below are generated from the
    # same _PERM_CONSTS the Spark expressions use.
    oracle=f"""{_minhash_cand_ctes()},
    j AS (
      SELECT c.doc1, c.doc2, COUNT(*) AS shared,
             ANY_VALUE(s1.n_shingles) AS n1, ANY_VALUE(s2.n_shingles) AS n2
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.doc1
      JOIN sh s2 ON s2.doc_id = c.doc2 AND s2.sh = s1.sh
      GROUP BY c.doc1, c.doc2)
    SELECT doc1, doc2, shared,
           CAST(shared AS DOUBLE) / CAST(n1 + n2 - shared AS DOUBLE) AS jaccard
    FROM j
    WHERE CAST(shared AS DOUBLE) / CAST(n1 + n2 - shared AS DOUBLE) >= 0.5
    """,
    tags=("dedup", "north-star", "minhash"),
)
def minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH candidate pairs verified with exact Jaccard ≥ 0.5.
    The scale path for near-dedup: explode→min-agg→band→bucket-join, then
    exact verification of CANDIDATES ONLY (never the all-pairs Jaccard —
    that is exactly the quadratic stage LSH exists to avoid).

    Uses the portable signature (one md5 per shingle + universal-hash
    permutations) so the ENTIRE pipeline — including which candidate pairs
    the LSH bands surface — is replicated in the DuckDB oracle.

    Signatures come from the Arrow fast path
    (:func:`minhash_signatures_arrow`) — bit-identical to the expression
    build by construction (same md5, exact int64 arithmetic), measured
    2.05 s → 0.85 s at sf0.1 on the dominant per-doc stage."""
    docs = load_table(spark, "documents", sf_dir)
    sigs = minhash_signatures_arrow(docs)
    cands = lsh_candidate_pairs_md5(sigs)
    return verify_pairs_jaccard(cands, docs).filter(F.col("jaccard") >= 0.5)


# Broadcast bound for the candidate-pair list in verify_pairs_jaccard:
# 2M (doc1, doc2) long pairs ≈ 32 MB of key data (~100-200 MB as a built
# hash relation) — comfortably inside a multi-GB executor, far beyond any
# driver-SF candidate count, yet small enough that 1000 executors each
# holding a copy is cheap. Above it the broadcast itself becomes the
# static-plan hazard (ADVICE r08): candidates grow with corpus size AND
# dup density, so a dup-dense corpus could OOM the driver exactly the way
# the unhinted plan OOMed on corpus shingles. The fallback keeps pairs as
# the SHJ build side — per-partition hash builds, no single giant relation.
VERIFY_BROADCAST_MAX_PAIRS = 2_000_000


def verify_pairs_jaccard(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Exact Jaccard for an explicit pair list: join each side to its
    shingle set, count shared shingles per pair. Cost is |pairs|·|shingles|
    join rows — linear in candidates, not quadratic in docs.

    Join strategy is pinned, not estimated (r08, found by the FIFTH
    scaling decade): the exploded-shingle relation's static size estimate
    is a lie — explode fan-out is invisible to the planner, so at 100×
    Catalyst chose to BROADCAST the ~25M-row shingle side and died
    building the hash relation ("Not enough memory to build and broadcast
    the table"). The scale-correct shape is the opposite and is what the
    explicit hints force: the CANDIDATE side (LSH-bucket-bounded, orders
    of magnitude smaller than the corpus) is the broadcast build side at
    both joins, and the shingle relations stream through un-shuffled —
    zero exchanges of corpus-sized data, the textbook candidates ≪ corpus
    verify. Measured at the fifth decade after the fix: 100×/10× ratio
    sub-linear (see SCALING.md r08).

    r15 opt (guide §8 — run heavy derivations only for the payloads
    that need them): under the broadcast cap, the DOC relation is first
    pruned to PAIR MEMBERS by a broadcast semi-join on the (pinned,
    counted-anyway) pair ids, so the expensive shingle derivation runs
    over ≤ 2·|pairs| docs instead of the whole corpus — on both sides.
    The semi-join adds no exchange (broadcast probe over the scan) and
    cannot change results: a doc in no candidate pair contributes
    nothing to either equi-join. Measured sf0.1 (256 LSH candidates
    over 5k docs): the verify leg drops 1.3 → ~0.3 s. Past the cap the
    member set is no longer broadcast-bounded and the full-derivation
    shape stands unchanged."""
    pairs = pairs.localCheckpoint(eager=True)
    small_pairs = pairs.count() <= VERIFY_BROADCAST_MAX_PAIRS
    if small_pairs:
        members = (
            pairs.select(F.col("doc1").alias("doc_id"))
            .unionByName(pairs.select(F.col("doc2").alias("doc_id")))
            .distinct()
        )
        docs = docs.join(F.broadcast(members), "doc_id", "left_semi")
    sh = exploded_shingles(docs)
    # n_shingles rides along on the exploded rows, so the per-side counts
    # come out of the same join via any_value — no extra scans of the
    # (expensive) shingle derivation.
    e1 = sh.select(
        F.col("doc_id").alias("doc1"),
        F.col("sh").alias("sh1"),
        F.col("n_shingles").alias("n1"),
    )
    e2 = sh.select(
        F.col("doc_id").alias("doc2"),
        F.col("sh").alias("sh1"),
        F.col("n_shingles").alias("n2"),
    )
    # join 1: candidates broadcast, doc1-side shingles stream un-shuffled.
    # join 2: the (pairs × doc1-shingles) relation is |pairs|·avg_shingles
    # rows — small here but NOT broadcast-bounded by contract, so it is a
    # shuffled hash build (per-partition memory, never one giant hash
    # relation); AQE may still upgrade it to broadcast from RUNTIME sizes,
    # which are the sizes that can be trusted.
    #
    # Measured alternatives at sf0.1 (r08, min-of-3 isolated; r09's
    # guarded shape below measures 3.06 s on the same harness — the
    # materialize-once count is free-to-negative): this shape
    # 3.39 s; broadcasting the half relation instead (zero exchanges of
    # the doc2 shingles) 6.79 s — the extra broadcast is a pipeline
    # BARRIER between the two joins and re-collects |pairs|·avg_shingles
    # rows through the driver, costing far more than the shingle shuffle
    # it saves. The pre-r08 unhinted plan was 2.18 s here but statically
    # broadcast the CORPUS-side shingles and OOMed at the 100× decade —
    # scale-unsafe by construction, not an option.
    # The candidate broadcast is GUARDED, not unconditional (r09, ADVICE
    # r08): candidates grow with corpus size and dup density, so the pair
    # list is materialized once (localCheckpoint — the relation feeds the
    # join anyway) and counted for free; past VERIFY_BROADCAST_MAX_PAIRS
    # the plan falls back to a shuffled-hash join that still BUILDS on
    # the pair side (per-partition builds, no single giant relation) —
    # the same candidates ≪ corpus asymmetry, minus the broadcast.
    #
    # Retained-block cost (ADVICE r09, same contract as pagerank_exact's
    # checkpoint note): the checkpointed pair blocks stay in executor
    # storage until the driver GCs the DataFrame references and the
    # ContextCleaner releases them — a long-lived session calling this
    # repeatedly accumulates one pair-list worth of blocks per call
    # between driver GCs. The list is LSH-bucket-bounded (≤ ~32 MB at
    # the broadcast cap; typically KBs at driver SFs), so the retention
    # is bounded·calls, not corpus-scale; harnesses that loop queries
    # (bench.py) already gc.collect() between queries, which releases
    # them. persist()+unpersist-by-caller was rejected: the returned
    # DataFrame is consumed lazily after return, so the caller would
    # either unpersist too early (recompute, double shingle derivation)
    # or inherit the exact same release-on-GC contract this note states.
    # (pairs pinned + counted above, before the member prune)
    if small_pairs:
        join1 = F.broadcast(pairs).join(e1, "doc1")
    else:
        join1 = pairs.hint("shuffle_hash").join(e1, "doc1")
    half = join1.hint("shuffle_hash")
    return (
        half.join(e2, ["doc2", "sh1"])  # equi-join on (doc, shingle): hash join
        .groupBy("doc1", "doc2")
        .agg(
            F.count("*").alias("shared"),
            F.any_value("n1").alias("_n1"),
            F.any_value("n2").alias("_n2"),
        )
        .select(
            "doc1",
            "doc2",
            "shared",
            (
                F.col("shared").cast("double")
                / (F.col("_n1") + F.col("_n2") - F.col("shared")).cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Tier 4 — SimHash (portable: md5-derived 60-bit hashes, full oracle)
# ---------------------------------------------------------------------------

# 60 bits = 15 hex chars of md5: the widest md5 prefix that still fits a
# SIGNED bigint in both engines (16 chars could exceed 2^63−1). Banding:
# 4 chunks × 15 bits.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS
_CHUNK_MASK = (1 << SIMHASH_CHUNK_BITS) - 1
# k=3 with 4 chunks is the EXACT pigeonhole regime (every pair with
# Hamming ≤ 3 must agree on ≥1 whole chunk, so the banded join has full
# recall). The r05 initial value of 6 both over-claimed (banding misses
# 4-6-bit pairs spread across all chunks) and exploded the result on the
# tiny-vocabulary synthetic corpus (1.13M pairs at sf0.1 → 5.8 s bench;
# k=3 is exact and ~4× smaller).
SIMHASH_MAX_HAMMING = 3


def simhash_sig(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash: bigint) — {SIMHASH_BITS}-bit bit-vote over token
    hashes. For each bit position, the bit is 1 iff more token-hashes have
    a 1 there than a 0. Expressed entirely JVM-side: explode tokens →
    per-bit vote aggregation via sum(sign) — one shuffle, no UDFs.

    The token hash is an md5 prefix (r05, VERDICT item 5) — the same
    portable-hash trick as ``minhash_signatures_md5`` — so the ENTIRE
    simhash pipeline replicates bit-for-bit in any SQL engine with md5
    and integer shifts, earning tier 4 a real driver oracle."""
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agged = toks.groupBy("doc_id").agg(*votes)
    sig = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return agged.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming ≤ k, banded on 15-bit chunks (any pair
    with Hamming ≤ 3 must agree exactly on ≥1 of 4 chunks — pigeonhole;
    larger k trades recall for the same sub-quadratic candidate set)."""
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_CHUNKS - 1}), c -> struct(c as chunk,"
                f" shiftright(simhash, c * {SIMHASH_CHUNK_BITS}) & {_CHUNK_MASK} as piece))"
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk", "cc.piece")
    a = chunks.alias("a").hint("shuffle_hash")  # self-join exchange reuse
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        # filter BEFORE the dedup shuffle: a pair can match on up to
        # SIMHASH_CHUNKS chunks, and shuffling those duplicates only to
        # drop most rows afterwards is wasted exchange volume (r05 bench:
        # 2.9M candidate rows vs 0.6M post-filter at sf0.1).
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


@register(
    "simhash_near_dups",
    # Relational replica of the portable simhash pipeline: md5-prefix token
    # hash → per-bit sign votes (×60 via generate_series) → signature
    # reassembly → 15-bit banded candidate join → popcount(xor) filter.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents),
    base AS (
      SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
    votes AS (
      SELECT doc_id, g.b AS bit,
             SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM base CROSS JOIN generate_series(0, {SIMHASH_BITS - 1}) AS g(b)
      GROUP BY doc_id, g.b),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id),
    chunks AS (
      SELECT doc_id, simhash, g.c AS chunk,
             (simhash >> (g.c * {SIMHASH_CHUNK_BITS})) & {_CHUNK_MASK} AS piece
      FROM sig CROSS JOIN generate_series(0, {SIMHASH_CHUNKS - 1}) AS g(c)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.piece = b.piece AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING})
    SELECT doc1, doc2, hamming FROM pairs
    """,
    tags=("dedup", "north-star", "simhash"),
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-4 near-dups: converted from rows-only to a full driver oracle
    in r05 by the md5 portable-hash trick (see ``simhash_sig``).
    Signatures run on the Arrow fast path (bit-identical by construction;
    see :func:`simhash_sig_arrow`)."""
    docs = load_table(spark, "documents", sf_dir)
    return simhash_near_pairs(simhash_sig_arrow(docs), max_hamming=SIMHASH_MAX_HAMMING)


# ---------------------------------------------------------------------------
# Cluster building: pairs → components → keep/drop decisions
# ---------------------------------------------------------------------------

CLUSTER_JACCARD_THR = 0.1

# Shared by the dedup_clusters oracle and the corpus_keep_list oracle
# (there it runs as a parenthesized subquery).
CLUSTERS_SQL = f"""
    WITH RECURSIVE lists AS MATERIALIZED (
      -- shingle list computed ONCE per doc (inlining it into both unnest
      -- and len doubles the dominant cost)
      SELECT doc_id,
             {SHINGLE_LIST_SQL} AS shl
      FROM documents),
    sh AS (
      SELECT doc_id, unnest(shl) AS sh, len(shl) AS n_shingles FROM lists),
    pairs AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING CAST(COUNT(*) AS DOUBLE)
               / CAST(ANY_VALUE(a.n_shingles) + ANY_VALUE(b.n_shingles) - COUNT(*) AS DOUBLE)
             >= {CLUSTER_JACCARD_THR}),
    edges AS (
      SELECT doc1 AS a, doc2 AS b FROM pairs
      UNION SELECT doc2, doc1 FROM pairs),
    reach AS (
      SELECT a AS n, a AS m FROM edges
      UNION
      SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
    SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n
    """


@register(
    "dedup_clusters",
    oracle=CLUSTERS_SQL,
    tags=("dedup", "north-star", "graph", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS: connected components (min-label
    propagation) over the Jaccard-similarity graph. The iterative Spark
    loop is oracle-checked against a recursive-CTE transitive closure —
    the one genuinely iterative algorithm in the engine with an exact SQL
    oracle. Component id = min doc_id = the canonical survivor."""
    from imdb_mapreduce_spark.operators.components import connected_components

    # Length-prefiltered pair build (r05): same pairs as
    # ngram_jaccard_pairs + jaccard >= thr, but length-incompatible
    # candidates die at the join probe (the oracle's jaccard filter
    # subsumes the prefilter, so CLUSTERS_SQL is unchanged).
    pairs = jaccard_pairs_min_threshold(
        load_table(spark, "documents", sf_dir), CLUSTER_JACCARD_THR
    )
    return connected_components(pairs, "doc1", "doc2").select(
        F.col("node").alias("doc_id"), "component"
    )


@register(
    "dedup_survivors_by_quality",
    oracle=f"""
    WITH ranked AS (
      SELECT c.component, c.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.component) AS n_docs
      FROM ({CLUSTERS_SQL}) c JOIN documents d ON d.doc_id = c.doc_id)
    SELECT component, doc_id AS survivor_id, n_chars AS survivor_chars,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1
    """,
    tags=("dedup", "north-star", "policy"),
)
def dedup_survivors_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable survivor-selection policy: instead of min-doc_id, each
    near-dup cluster keeps its LONGEST member (n_chars, deterministic
    doc_id tiebreak) — the 'prefer richer duplicate' rule real corpus
    builds use. Cluster map read from the silver layer (built once);
    ranking runs over the tiny cluster relation joined to per-doc quality
    — the policy swap costs one window over |clustered docs|, it never
    rescans the corpus text."""
    from imdb_mapreduce_spark.sources.silver import materialized

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    clusters = materialized(
        spark,
        sf_dir,
        "dedup_clusters",
        "documents",
        {"thr": CLUSTER_JACCARD_THR, "shingle": SHINGLE_WORDS, "v": 1},
        lambda: dedup_clusters(spark, sf_dir),
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("component")
    return (
        clusters.join(docs, "doc_id")
        .select(
            "component",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("_rn"),
            F.count("*").over(wc).alias("n_docs"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("survivor_id"),
            F.col("n_chars").alias("survivor_chars"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
    )


# Keep-list policy knobs (tuned to produce a meaningful keep/drop mix on
# the synthetic corpus: token counts span 10..99, TTR spans 0.28..1.0).
KEEP_MIN_TOKENS = 20
KEEP_MAX_TOKENS = 95
KEEP_MIN_TTR = 0.33


@register(
    "corpus_keep_list",
    oracle=f"""
    SELECT d.doc_id,
           CASE
             WHEN c.component IS NOT NULL AND c.component <> d.doc_id
               THEN 'near_dup'
             WHEN len(string_split(d.text, ' ')) < {KEEP_MIN_TOKENS}
               OR len(string_split(d.text, ' ')) > {KEEP_MAX_TOKENS}
               THEN 'length'
             WHEN CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
                    / CAST(len(string_split(d.text, ' ')) AS DOUBLE) < {KEEP_MIN_TTR}
               THEN 'repetitive'
           END AS drop_reason,
           (CASE
             WHEN c.component IS NOT NULL AND c.component <> d.doc_id THEN FALSE
             WHEN len(string_split(d.text, ' ')) < {KEEP_MIN_TOKENS}
               OR len(string_split(d.text, ' ')) > {KEEP_MAX_TOKENS} THEN FALSE
             WHEN CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
                    / CAST(len(string_split(d.text, ' ')) AS DOUBLE) < {KEEP_MIN_TTR}
               THEN FALSE
             ELSE TRUE
           END) AS keep
    FROM documents d
    LEFT JOIN ({CLUSTERS_SQL}) c ON c.doc_id = d.doc_id
    """,
    tags=("dedup", "north-star", "pipeline", "quality"),
)
def corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's END PRODUCT: one keep/drop decision per document,
    composing the near-dup clusterer (drop non-survivors) with length and
    repetition quality gates — precedence near_dup > length > repetitive,
    first failing rule recorded as drop_reason.

    Composition shape at scale: the cluster mapping is tiny (only docs in
    some near-dup pair) so its join side broadcasts; the quality gates are
    pure projections on the corpus scan. One wide pass + one small join.

    The cluster map comes from the SILVER layer (``sources/silver.py``):
    the pairs→components recompute runs once per documents.parquet
    version; every later call — and every downstream consumer — is a pure
    parquet read of the materialized map. (The registered
    ``dedup_clusters`` query itself stays a live recompute: it IS the
    build, and what its recursive-CTE oracle prices.)
    """
    from imdb_mapreduce_spark.sources.silver import materialized

    docs = load_table(spark, "documents", sf_dir)
    clusters = materialized(
        spark,
        sf_dir,
        "dedup_clusters",
        "documents",
        {"thr": CLUSTER_JACCARD_THR, "shingle": SHINGLE_WORDS, "v": 1},
        lambda: dedup_clusters(spark, sf_dir),
    )
    non_survivor = clusters.filter(F.col("component") != F.col("doc_id")).select(
        "doc_id", F.lit(True).alias("_dup")
    )
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double")
    reason = (
        F.when(F.col("_dup"), F.lit("near_dup"))
        .when(
            (n_tok < KEEP_MIN_TOKENS) | (n_tok > KEEP_MAX_TOKENS), F.lit("length")
        )
        .when(ttr < KEEP_MIN_TTR, F.lit("repetitive"))
    )
    return (
        docs.join(F.broadcast(non_survivor), "doc_id", "left")
        .select("doc_id", reason.alias("drop_reason"))
        .withColumn("keep", F.col("drop_reason").isNull())
    )


def minhash_signatures_arrow(
    docs: DataFrame, perms: int = MINHASH_PERMS
) -> DataFrame:
    """Arrow fast path for :func:`minhash_signatures_md5` — bit-identical
    BY CONSTRUCTION: hashlib md5 is the same function as Spark's, the
    28-bit prefix parse is the same integer, and the (a·h+b) mod p mins
    are exact int64 arithmetic (no float anywhere), vectorized over all
    permutations per doc in one numpy broadcast. Per-vector work is the
    dominant minhash cost, so this is the production signature builder
    (measured 2.05 s → 0.85 s at sf0.1); parity with the expression path
    is pinned by ``test_arrow_minhash_matches_expression_path``."""
    import hashlib

    import numpy as np

    A = np.array([a for a, b in _PERM_CONSTS[:perms]], dtype=np.int64)
    B = np.array([b for a, b in _PERM_CONSTS[:perms]], dtype=np.int64)
    schema = "doc_id bigint, " + ", ".join(f"h{i} bigint" for i in range(perms))

    def batches(it):
        import pandas as pd

        for pdf in it:
            out_ids, out_sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split(" ")
                n = max(len(toks) - (SHINGLE_WORDS - 1), 1)
                sh = {" ".join(toks[i : i + SHINGLE_WORDS]) for i in range(n)}
                hs = np.fromiter(
                    (
                        int(hashlib.md5(s.encode()).hexdigest()[:7], 16)
                        for s in sh
                    ),
                    dtype=np.int64,
                    count=len(sh),
                )
                sigs = ((A[None, :] * hs[:, None] + B[None, :]) % MINHASH_PRIME).min(
                    axis=0
                )
                out_ids.append(doc_id)
                out_sigs.append(sigs)
            if out_ids:
                arr = np.vstack(out_sigs)
                d = {"doc_id": out_ids}
                for i in range(perms):
                    d[f"h{i}"] = arr[:, i]
                yield pd.DataFrame(d)

    return docs.select("doc_id", "text").mapInPandas(batches, schema)


def simhash_sig_arrow(docs: DataFrame) -> DataFrame:
    """Arrow fast path for :func:`simhash_sig` — bit-identical BY
    CONSTRUCTION (same md5 prefix, exact int64 shifts and votes, the
    bit-assembly terms are disjoint so the sum equals the XOR build).
    One numpy broadcast computes all {SIMHASH_BITS} bit votes per doc;
    measured 1.5 s → 0.5 s at sf0.1 on the signature stage. Parity pinned
    by ``test_arrow_simhash_matches_expression_path``."""
    import hashlib

    import numpy as np

    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

    def batches(it):
        import pandas as pd

        for pdf in it:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = set(text.split(" "))
                hs = np.fromiter(
                    (
                        int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                        for t in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                bits = (hs[:, None] >> shifts[None, :]) & 1
                votes = (2 * bits - 1).sum(axis=0)
                sig = int(((votes > 0).astype(np.int64) << shifts).sum())
                ids.append(doc_id)
                sigs.append(sig)
            if ids:
                yield pd.DataFrame(
                    {"doc_id": ids, "simhash": np.array(sigs, dtype=np.int64)}
                )

    return docs.select("doc_id", "text").mapInPandas(
        batches, "doc_id bigint, simhash bigint"
    )


CONTAIN_THR = 0.8  # near-superset: >=80% of the smaller side's shingles


@register(
    "ngram_containment_pairs",
    oracle=f"""
    WITH lists AS MATERIALIZED (
      SELECT doc_id,
             {SHINGLE_LIST_SQL} AS shl
      FROM documents),
    sh AS (
      SELECT doc_id, len(shl) AS n_shingles, unnest(shl) AS sh FROM lists)
    SELECT * FROM (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             CAST(COUNT(*) AS BIGINT) AS shared,
             CAST(COUNT(*) AS DOUBLE)
               / CAST(ANY_VALUE(a.n_shingles) AS DOUBLE) AS contain_1in2,
             CAST(COUNT(*) AS DOUBLE)
               / CAST(ANY_VALUE(b.n_shingles) AS DOUBLE) AS contain_2in1
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    WHERE contain_1in2 >= {CONTAIN_THR} OR contain_2in1 >= {CONTAIN_THR}
    """,
    tags=("dedup", "north-star", "containment"),
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC set-similarity: shingle containment C(A→B) = |A∩B|/|A| —
    the quote/boilerplate/near-superset detector Jaccard cannot express (a
    short doc fully embedded in a long one has tiny Jaccard but
    containment 1.0). Reports both directions per pair, kept when either
    crosses {CONTAIN_THR}. Deliberately NO length-ratio prefilter: unequal
    lengths are exactly the pairs this operator exists to find, and the
    OR over directions means shared >= thr*min(|A|,|B|) imposes no length
    bound at all. That also means the shingle self-join here is UNCAPPED
    (exact containment needs every shingle in the denominator, and a pair
    can qualify through stop shingles alone, so tier 2's frequency cap
    would change answers, not just prune) — this is the exact tier. At
    100 TB run it the way tier 2/3 scale: cap-candidates-then-verify
    (``ngram_jaccard_capped``'s plan with this query's ratio columns),
    accepting that pairs overlapping ONLY in >{STOP_SHINGLE_MAX_FREQ}-doc
    boilerplate are reported by the boilerplate detector, not this one."""
    sh = exploded_shingles(load_table(spark, "documents", sf_dir))
    a = sh.alias("a").hint("shuffle_hash")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(
            F.count("*").cast("long").alias("shared"),
            (
                F.count("*").cast("double")
                / F.any_value(F.col("a.n_shingles")).cast("double")
            ).alias("contain_1in2"),
            (
                F.count("*").cast("double")
                / F.any_value(F.col("b.n_shingles")).cast("double")
            ).alias("contain_2in1"),
        )
        .filter(
            (F.col("contain_1in2") >= CONTAIN_THR)
            | (F.col("contain_2in1") >= CONTAIN_THR)
        )
    )


# --- exact-substring duplicate spans (r05 session 3) -----------------------

DUP_SPAN_GRAM = 20  # tokens per gram (the match unit)
DUP_SPAN_MIN = 25  # report pairs with a shared run of >= this many tokens
DUP_GRAM_MAX_FREQ = 50  # corpus-wide occurrence cap: beyond = boilerplate
# Data-proportional partitioning for the span gram table: one partition
# per this many DOCUMENTS, so the pinned shuffled-hash self-join's
# per-partition build stays bounded (~O(100) gram rows/doc × ~64 B
# hash-relation bytes/row ≈ 25-40 MB) no matter the corpus size. At the
# driver SFs this resolves BELOW the session shuffle-partition count, so
# the measured small-SF plans are unchanged; at the 1000× corpus it is
# what makes the join fit (the sixth decade's catch — see
# span_pairs_from_grams).
SPAN_DOCS_PER_PARTITION = 4000


@register(
    "duplicate_span_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    lists AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(t) - {DUP_SPAN_GRAM - 1}, 1)),
               i -> {{'pos': i,
                     'h': ('0x' || substring(md5(
                            array_to_string(t[i:i+{DUP_SPAN_GRAM - 1}], ' ')),
                            1, 15))::BIGINT}}) AS gl
      FROM toks),
    g AS (SELECT doc_id, unnest(gl, recursive := true) FROM lists),
    kept AS (
      SELECT * FROM (
        SELECT doc_id, pos, h, COUNT(*) OVER (PARTITION BY h) AS f FROM g)
      WHERE f <= {DUP_GRAM_MAX_FREQ}),
    m AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             a.pos AS p1, a.pos - b.pos AS diag
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id),
    runs AS (
      SELECT doc1, doc2, diag,
             p1 - ROW_NUMBER() OVER (PARTITION BY doc1, doc2, diag
                                     ORDER BY p1) AS isl
      FROM m),
    islands AS (
      SELECT doc1, doc2, diag, isl, COUNT(*) AS run
      FROM runs GROUP BY 1, 2, 3, 4)
    SELECT doc1, doc2,
           CAST(SUM(run) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT diag) AS BIGINT) AS n_diagonals,
           CAST(MAX(run) + {DUP_SPAN_GRAM - 1} AS BIGINT) AS longest_span_tokens
    FROM islands GROUP BY 1, 2
    HAVING MAX(run) + {DUP_SPAN_GRAM - 1} >= {DUP_SPAN_MIN}
    """,
    tags=("dedup", "north-star", "substring", "scale"),
)
def duplicate_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING duplicate spans (the Lee et al. 2021 'Deduplicating
    Training Data Makes Language Models Better' method, re-expressed
    relationally): find document pairs sharing a verbatim token run of >=
    {DUP_SPAN_MIN} tokens — the duplication mode shingle-Jaccard blurs
    away (two long docs sharing one copied paragraph have low Jaccard but
    a long exact span). Instead of a suffix array: every {DUP_SPAN_GRAM}-
    token gram is hashed to a portable 60-bit md5 int at its position;
    matching grams across docs land on DIAGONALS (p1 - p2 = const), and a
    gaps-and-islands pass (pos - ROW_NUMBER per diagonal) merges
    consecutive matches into maximal runs: a shared run of L tokens is
    L - {DUP_SPAN_GRAM} + 1 consecutive grams, so longest span = max run
    + {DUP_SPAN_GRAM - 1}.

    Scale posture: the gram self-join shuffles 8-byte hash ints, never
    gram strings; the corpus-wide frequency cap ({DUP_GRAM_MAX_FREQ}
    occurrences) bounds the f^2 blowup of boilerplate grams IN-PLAN and
    is mirrored exactly by the oracle (capped grams are declared
    boilerplate, a stated semantic, not silent pruning — at 20 tokens a
    gram that frequent is never organic prose). The islands window keys
    on (doc1, doc2, diag) — partitions are single runs, no skew."""
    K = DUP_SPAN_GRAM
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    g = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("t") - (K - 1), F.lit(1)))
        ).alias("pos"),
    ).select(
        "doc_id",
        "pos",
        F.conv(
            F.substring(
                F.md5(F.array_join(F.slice("t", F.col("pos"), K), " ")), 1, 15
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    # Size the gram partitioning to the corpus BEFORE the frequency-cap
    # window: repartition(N, h) feeds the window (partitionBy h — exchange
    # satisfied, none added) AND the downstream self-join (equi-key h,
    # both sides the same reused exchange), so the whole tail runs at N
    # partitions for ONE shuffle. N grows with the doc count so the
    # pinned shuffled-hash build stays bounded at any scale; the footer
    # probe costs zero jobs, and on probe failure the session default is
    # kept (a perf knob only — semantics don't depend on N).
    from imdb_mapreduce_spark.sources.star import parquet_num_rows

    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        n_docs = parquet_num_rows(f"{sf_dir}/documents.parquet")
    except (OSError, ValueError):
        n_docs = 0
    n_parts = max(session_parts, -(-n_docs // SPAN_DOCS_PER_PARTITION))
    if n_parts > session_parts:
        g = g.repartition(n_parts, "h")
    kept = (
        g.withColumn("f", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("f") <= DUP_GRAM_MAX_FREQ)
        .drop("f")
    )
    return span_pairs_from_grams(kept, K, DUP_SPAN_MIN)


def span_pairs_from_grams(
    grams: DataFrame, gram_tokens: int, min_span: int
) -> DataFrame:
    """The span-merge core of ``duplicate_span_pairs`` over a prepared
    (doc_id, pos, h) gram table: hash self-join -> diagonal gaps-and-
    islands -> maximal-run rollup. Factored out so the scale smoke can
    drive it with synthetic million-gram inputs.

    The self-join is a pinned SHUFFLED HASH join: both sides are the same
    exchange (reused), and SHJ skips the two corpus-sized sorts a merge
    join pays — measured at the 100× corpus: SHJ 63.6 s vs SMJ 85.5 s
    (+34%). SHJ's per-partition hash relation, however, is only safe when
    partition count scales with the data: at the 1000× corpus the session
    default of 32 partitions put ~15M gram rows (~1 GB) in each build and
    died with "Can't acquire … bytes memory to build hash relation" — the
    SIXTH scaling decade caught it. The caller is responsible for sizing
    the partitioning of ``grams`` to the corpus (see
    ``duplicate_span_pairs``); the hint itself stays, because with
    data-proportional partitions the build side is bounded again."""
    a = grams.alias("a").hint("shuffle_hash")
    b = grams.alias("b")
    m = a.join(
        b,
        (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc1"),
        F.col("b.doc_id").alias("doc2"),
        F.col("a.pos").alias("p1"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    runs = m.select(
        "doc1",
        "doc2",
        "diag",
        (
            F.col("p1")
            - F.row_number().over(
                Window.partitionBy("doc1", "doc2", "diag").orderBy("p1")
            )
        ).alias("isl"),
    )
    islands = runs.groupBy("doc1", "doc2", "diag", "isl").agg(
        F.count("*").alias("run")
    )
    return (
        islands.groupBy("doc1", "doc2")
        .agg(
            F.sum("run").cast("long").alias("n_shared_grams"),
            F.countDistinct("diag").cast("long").alias("n_diagonals"),
            (F.max("run") + F.lit(gram_tokens - 1))
            .cast("long")
            .alias("longest_span_tokens"),
        )
        .filter(F.col("longest_span_tokens") >= min_span)
    )


# --- LSH candidate-quality eval (r05 session 3) -----------------------------

MINHASH_EVAL_THR = 0.5  # ground truth: exact Jaccard >= this


@register(
    "minhash_eval_metrics",
    oracle=f"""{_minhash_cand_ctes()},
    truth AS (
      SELECT doc1, doc2 FROM (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS shared,
               ANY_VALUE(a.n_shingles) AS n1, ANY_VALUE(b.n_shingles) AS n2
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      WHERE CAST(shared AS DOUBLE) / CAST(n1 + n2 - shared AS DOUBLE)
            >= {MINHASH_EVAL_THR}),
    lab AS (
      SELECT doc1, doc2, MAX(in_cand) AS in_cand, MAX(in_true) AS in_true
      FROM (
        SELECT doc1, doc2, 1 AS in_cand, 0 AS in_true FROM cand
        UNION ALL
        SELECT doc1, doc2, 0 AS in_cand, 1 AS in_true FROM truth)
      GROUP BY 1, 2)
    SELECT CAST(SUM(in_cand) AS BIGINT) AS n_candidates,
           CAST(SUM(in_true) AS BIGINT) AS n_true_pairs,
           CAST(SUM(in_cand * in_true) AS BIGINT) AS n_hit,
           CAST(SUM(in_cand * in_true) AS DOUBLE)
             / CAST(SUM(in_cand) AS DOUBLE) AS lsh_precision,
           CAST(SUM(in_cand * in_true) AS DOUBLE)
             / CAST(SUM(in_true) AS DOUBLE) AS lsh_recall
    FROM lab
    """,
    tags=("dedup", "north-star", "minhash", "audit"),
)
def minhash_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL of the LSH candidate generator against exact ground truth —
    the dedup analog of ``lang_id_confusion``: band/bucket candidates vs
    the exact-Jaccard >= {MINHASH_EVAL_THR} pair set, reported as
    precision (how much verify work is wasted on sub-threshold pairs) and
    recall (which true dup pairs the bands missed — the quantity the
    banding parameters (b={LSH_BANDS}, r={MINHASH_PERMS // LSH_BANDS})
    trade against candidate volume). Deterministic: the portable md5
    signature makes the candidate set itself reproducible in both
    engines, so even the sampling-free eval hash-matches.

    One row. Shape: the candidate build is minhash_lsh_dups' own; truth
    is tier 2's pair join; the label union + per-pair MAX + one global
    rollup avoids any 1-row cross join."""
    docs = load_table(spark, "documents", sf_dir)
    cand = lsh_candidate_pairs_md5(minhash_signatures_arrow(docs))
    truth = jaccard_pairs_min_threshold(docs, MINHASH_EVAL_THR).select(
        "doc1", "doc2"
    )
    lab = (
        cand.select("doc1", "doc2", F.lit(1).alias("in_cand"), F.lit(0).alias("in_true"))
        .unionByName(
            truth.select(
                "doc1", "doc2", F.lit(0).alias("in_cand"), F.lit(1).alias("in_true")
            )
        )
        .groupBy("doc1", "doc2")
        .agg(F.max("in_cand").alias("in_cand"), F.max("in_true").alias("in_true"))
    )
    return lab.agg(
        F.sum("in_cand").cast("long").alias("n_candidates"),
        F.sum("in_true").cast("long").alias("n_true_pairs"),
        F.sum(F.col("in_cand") * F.col("in_true")).cast("long").alias("n_hit"),
        (
            F.sum(F.col("in_cand") * F.col("in_true")).cast("double")
            / F.sum("in_cand").cast("double")
        ).alias("lsh_precision"),
        (
            F.sum(F.col("in_cand") * F.col("in_true")).cast("double")
            / F.sum("in_true").cast("double")
        ).alias("lsh_recall"),
    )
