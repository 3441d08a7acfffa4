"""Build-once materialized ("silver") tables keyed by source fingerprint.

The medallion-architecture move: expensive derived datasets (near-dup
cluster maps, ANN index layouts, signature tables) are written ONCE per
source-data version and every consumer afterwards is a pure parquet read.
At 100 TB this is the difference between a dedup pipeline that runs once
per corpus snapshot and one that re-shingles the corpus every time a
downstream query wants the cluster map.

Staleness safety (the r03 lesson — never trust persisted state across a
driver-side data regeneration): the materialization is keyed by the source
parquet's (path, mtime_ns, size) plus the build parameters; any change
rebuilds automatically, so a consumer can never read a silver table that
disagrees with its source.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def silver_root() -> str:
    return os.path.join(_REPO, "spark-warehouse", "silver")


def _source_fingerprint(sf_dir: str, src_table: str, params: dict) -> dict:
    """The staleness key: source-file stat + every build knob. ONE
    implementation for the plain and bucketed paths (r06 review: two
    hand-copies of the protocol risked silent divergence).

    ``src`` is stored CANONICAL (``os.path.realpath``): with the raw
    caller spelling, naming the same corpus relatively in one session
    and absolutely in another made the fingerprint mismatch and
    silently re-ran the build — at the 1000× corpus that is a
    multi-hour 2.4B-edge rebuild triggered by path spelling alone
    (found in r09; the rebuild also OOMed because the requesting
    session wasn't provisioned for a build it never asked for).
    realpath, not abspath (ADVICE r09): abspath is cwd-dependent and
    keeps symlink spellings distinct, so a harness run from a non-root
    cwd or a corpus named via a symlink still re-triggered the rebuild
    class; realpath subsumes abspath AND collapses symlinks to one
    canonical spelling. :func:`_normalize_src` applies the same rule to
    STORED metas at compare time, so pre-r10 abspath/relative metas
    stay valid without a rewrite."""
    src = os.path.realpath(os.path.join(sf_dir, f"{src_table}.parquet"))
    st = os.stat(src)
    return {"src": src, "mtime_ns": st.st_mtime_ns, "size": st.st_size, **params}


def _normalize_src(fp: dict | None) -> dict | None:
    """Make a stored fingerprint comparable to a fresh one regardless of
    how the build-time caller spelled the corpus path (see
    :func:`_source_fingerprint`)."""
    if fp and isinstance(fp.get("src"), str):
        fp = {**fp, "src": os.path.realpath(fp["src"])}
    return fp


def _table_paths(sf_dir: str, name: str) -> tuple[str, str]:
    base = os.path.join(silver_root(), os.path.basename(sf_dir.rstrip("/")), name)
    return os.path.join(base, "data"), os.path.join(base, "_meta.json")


def _stored_meta(meta_path: str, data_dir: str) -> dict | None:
    """The committed meta iff it parses AND the data write completed
    (_SUCCESS). Torn/partial/absent meta or data → None → rebuild, never a
    failed read (the crash-recovery contract
    test_silver.py::test_materialized_recovers_from_torn_meta pins)."""
    if not os.path.exists(meta_path):
        return None
    try:
        with open(meta_path) as f:
            stored = json.load(f)
    except (json.JSONDecodeError, OSError):
        return None
    if not os.path.exists(os.path.join(data_dir, "_SUCCESS")):
        return None
    return stored


def _commit_meta(meta_path: str, payload: dict) -> None:
    """Meta is written AFTER the data and atomically (temp + rename), so a
    reader can never observe a fingerprint vouching for missing or
    half-written data."""
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, meta_path)


# Build-job sizing: one shuffle partition (and one bucket, for the
# bucketed path) per this many SOURCE rows. Silver builds are the batch
# tier — on a production cluster they run at their own width, sized to
# the data, while interactive sessions keep a small fixed
# spark.sql.shuffle.partitions. Locally the same rule is what lets a
# session tuned for sf0.1 (32 partitions, 8 g heap) build the 1000×
# corpus: at a fixed width every per-task structure (shuffled-hash
# builds, parquet writer buffers) grows linearly with the corpus, and
# the 1000× pair build died on exactly that ("Java heap space" writing
# ~37M aggregated pairs per task — the SIXTH scaling decade's catch).
# The width is derived from a zero-job parquet-footer probe and resolves
# to the session default at every driver SF, so all measured small-SF
# plans and layouts are unchanged.
SILVER_BUILD_ROWS_PER_PARTITION = 1_000_000


def _src_num_rows(sf_dir: str, src_table: str) -> int:
    from imdb_mapreduce_spark.sources.star import parquet_num_rows

    try:
        return parquet_num_rows(os.path.join(sf_dir, f"{src_table}.parquet"))
    except (OSError, ValueError):
        return 0


class _build_width:
    """Context manager: run a silver build at data-proportional shuffle
    width (max of the session setting and rows/SILVER_BUILD_ROWS_PER_
    PARTITION), restoring the session setting afterwards. A no-op at
    driver SFs, where the formula resolves below the session default.

    Restoration happens on success AND on build exception (``with``
    guarantees ``__exit__``; pinned by
    tests/test_silver.py::test_build_width_restores_on_exception).
    SINGLE-SESSION ASSUMPTION (VERDICT r08): the mutation is session-
    global, so a query running CONCURRENTLY on the same SparkSession
    during a build would compile at the widened setting. Every harness
    here (bench, driver, tests) is single-threaded per session, which
    makes this inert today; a multi-tenant deployment should instead
    scope the build to its own session (``spark.newSession()`` shares
    the JVM but isolates SQL conf) — not done now to keep the measured
    driver-SF plans byte-identical."""

    def __init__(self, spark: SparkSession, n_rows: int):
        self.spark = spark
        self.n_rows = n_rows

    def __enter__(self) -> None:
        self.before = self.spark.conf.get("spark.sql.shuffle.partitions")
        n = max(
            int(self.before),
            -(-self.n_rows // SILVER_BUILD_ROWS_PER_PARTITION),
        )
        if n > int(self.before):
            self.spark.conf.set("spark.sql.shuffle.partitions", str(n))

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self.before)


def materialized(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    src_table: str,
    params: dict,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the silver table ``name`` derived from ``src_table`` at
    ``sf_dir``, building it with ``build()`` iff absent or stale.

    ``params`` must include every knob the build depends on — it is part
    of the staleness key, so changing a threshold invalidates the table.
    """
    fingerprint = _source_fingerprint(sf_dir, src_table, params)
    data_dir, meta_path = _table_paths(sf_dir, name)
    if _normalize_src(_stored_meta(meta_path, data_dir)) == fingerprint:
        return spark.read.parquet(data_dir)
    with _build_width(spark, _src_num_rows(sf_dir, src_table)):
        build().write.mode("overwrite").parquet(data_dir)
    _commit_meta(meta_path, fingerprint)
    return spark.read.parquet(data_dir)


def materialized_bucketed(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    src_table: str,
    params: dict,
    build: Callable[[], DataFrame],
    key: str,
    buckets: int = 8,
) -> DataFrame:
    """Like :func:`materialized`, but persisted as an EXTERNAL bucketed
    table (hash-bucketed + sorted on ``key``), so every later join or
    aggregation on ``key`` reads the layout shuffle-free (the scan shows
    ``Bucketed: true`` and only the other side exchanges — pinned by
    tests/test_silver.py).

    The session catalog is in-memory, so a fresh session re-registers the
    table over the existing data with a ``CREATE TABLE … CLUSTERED BY …
    LOCATION`` DDL (schema recorded in the fingerprint meta at build
    time) — a pure metadata operation, no data rewrite. Staleness follows
    the same (source stat + params) fingerprint contract as
    :func:`materialized`.

    ``buckets`` is a FLOOR: the resolved count grows with the source
    (one bucket per SILVER_BUILD_ROWS_PER_PARTITION source rows), because
    a fixed bucket count is a fixed per-bucket data volume multiplier —
    at the 1000× corpus an 8-bucket edge table means ~300M sorted rows
    per write task and OOMs the parquet writers. The resolved count is
    deterministic per corpus (zero-job footer probe), lands in the
    fingerprint, and resolves to the floor at every driver SF, so
    existing small-SF layouts are untouched; consumers adapt to any
    bucket count (bucketed scans parallelize per bucket).
    """
    buckets = max(
        buckets,
        -(-_src_num_rows(sf_dir, src_table) // SILVER_BUILD_ROWS_PER_PARTITION),
    )
    fingerprint = _source_fingerprint(
        sf_dir, src_table, {"key": key, "buckets": buckets, **params}
    )
    sf_tag = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    table = f"silver_{name}_{sf_tag}".lower()
    data_dir, meta_path = _table_paths(sf_dir, name)
    stored = _stored_meta(meta_path, data_dir)
    if stored is not None and _normalize_src(stored.get("fingerprint")) == fingerprint:
        if not spark.catalog.tableExists(table):
            spark.sql(
                f"CREATE TABLE {table} ({stored['ddl']}) USING PARQUET "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {buckets} BUCKETS LOCATION '{data_dir}'"
            )
        return spark.table(table)
    with _build_width(spark, _src_num_rows(sf_dir, src_table)):
        df = build()
        ddl = ", ".join(
            f"{f_.name} {f_.dataType.simpleString()}" for f_ in df.schema
        )
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            df.write.mode("overwrite")
            .bucketBy(buckets, key)
            .sortBy(key)
            .option("path", data_dir)
            .format("parquet")
            .saveAsTable(table)
        )
    _commit_meta(meta_path, {"fingerprint": fingerprint, "ddl": ddl})
    return spark.table(table)


# ---------------------------------------------------------------------------
# Shared co-purchase edge tables (VERDICT r05 item 1)
# ---------------------------------------------------------------------------

# A-priori basket cap: orders with more than MAX_BASKET distinct parts are
# dropped BEFORE the quadratic self-join, bounding the pair fan-out at
# Σ min(basket, cap)² instead of Σ basket². TPC-H baskets are ≤ 7 lines, so
# the default cap is provably inert at every test SF (cap-on ≡ cap-off is
# pytest-enforced); at 100 TB it is the guard that keeps one hot basket
# (a mega-order touching 10⁵ parts) from emitting 10¹⁰ pairs. Dropping the
# whole oversized basket (not truncating it) is the standard market-basket
# choice: a 10⁵-part order carries no co-purchase signal.
MAX_BASKET = 64


def build_copurchase_pairs(
    e0: DataFrame,
    max_basket: int | None = MAX_BASKET,
    on_capped: str = "drop",
) -> DataFrame:
    """Canonical co-purchase pair build from a distinct (o, p) relation:
    (p1, p2, support) with p1 < p2, support = number of shared baskets.

    Pure function of its input so the cap semantics are unit-testable on
    synthetic baskets (tests/test_silver.py) independent of the star data.
    The basket-size prefilter is a window count over the partition the
    self-join shuffles on anyway — no extra exchange.

    ``on_capped="raise"`` (the silver-build default, VERDICT r07 item 5)
    turns the cap from a silent hazard into an explicit one: if ANY basket
    exceeds the cap, the build fails with the over-cap basket count
    instead of quietly diverging from the cap-free DuckDB oracles. The
    audit is one bounded-scalar aggregation over the fact projection,
    paid only when the fingerprint-keyed silver table actually rebuilds.
    ``"drop"`` is the documented 100 TB production choice (a 10⁵-part
    mega-order carries no co-purchase signal and would emit 10¹⁰ pairs)."""
    from pyspark.sql import Window

    if max_basket is not None:
        if on_capped == "raise":
            n_over = (
                e0.groupBy("o")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > max_basket)
                .count()
            )
            if n_over:
                raise ValueError(
                    f"{n_over} basket(s) exceed MAX_BASKET={max_basket}; the "
                    f"capped silver pair table would diverge from cap-free "
                    f"oracles. Pass on_capped='drop' to accept dropping them."
                )
        elif on_capped != "drop":
            raise ValueError(f"on_capped must be 'raise' or 'drop': {on_capped!r}")
        w = Window.partitionBy("o")
        e0 = (
            e0.withColumn("_basket_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_basket_n") <= max_basket)
            .drop("_basket_n")
        )
    a, b = e0.alias("a"), e0.alias("b")
    return (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
        .agg(F.count(F.lit(1)).alias("support"))
    )


def copurchase_pairs(
    spark: SparkSession, sf_dir: str, max_basket: int | None = MAX_BASKET
) -> DataFrame:
    """The SHARED silver co-purchase pair table (p1 < p2, support) every
    graph-family query derives from (VERDICT r05 item 1: the Σ basket²
    self-join + count is built ONCE per corpus version instead of once per
    query — the reference's own one-edge-table-two-views insight,
    ``server.erl:57-58,415-423``, applied at the storage layer)."""
    from imdb_mapreduce_spark.sources.star import load_table

    def build() -> DataFrame:
        e0 = (
            load_table(spark, "lineitem", sf_dir)
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        # fail-loud on driver data: a basket over the cap aborts the build
        # (see build_copurchase_pairs); production opts into dropping.
        return build_copurchase_pairs(e0, max_basket, on_capped="raise")

    return materialized(
        spark,
        sf_dir,
        "copurchase_pairs",
        "lineitem",
        {"max_basket": max_basket, "v": 1},
        build,
    )


def copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    max_basket: int | None = MAX_BASKET,
    by: str = "src",
) -> DataFrame:
    """Symmetric co-purchase edge table (src, dst, support, deg), persisted
    hash-bucketed + sorted on ``by`` (``src`` default; pass ``dst`` for
    the mirrored layout serving incoming-edge joins). Derived from the
    pair table, so the quadratic build never runs twice; the mirror union
    itself is a cheap linear scan of the materialized pairs.

    ``deg`` is the out-degree of ``src`` (VERDICT r07 item 3): PageRank's
    per-call degree-annotation join (e ⋈ deg on the src key) is paid ONCE
    here at build time — a window count over the same src partitioning the
    bucketed write clusters on anyway — so every iterative consumer that
    needs degrees reads them off the scan. The graph is symmetric, so
    out-degree equals in-degree and the column is layout-independent.

    Iterative consumers (PageRank's rank⋈edges round, SSSP's
    frontier⋈edges relaxation, the unipartite BFS hop) join on ``src``
    every round — the bucketed layout means the big edge side is NEVER
    re-shuffled, only the small rank/frontier relation moves."""
    def build() -> DataFrame:
        from pyspark.sql import Window

        # resolved INSIDE build (r06 review): a fresh edges table must not
        # trigger a pairs rebuild whose output it never reads
        pairs = copurchase_pairs(spark, sf_dir, max_basket)
        sym = pairs.select(
            F.col("p1").alias("src"), F.col("p2").alias("dst"), "support"
        ).unionByName(
            pairs.select(
                F.col("p2").alias("src"), F.col("p1").alias("dst"), "support"
            )
        )
        return sym.withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )

    return materialized_bucketed(
        spark,
        sf_dir,
        f"copurchase_edges_by_{by}",
        "lineitem",
        {"max_basket": max_basket, "v": 2},  # v2: + deg column
        build,
        key=by,
    )
