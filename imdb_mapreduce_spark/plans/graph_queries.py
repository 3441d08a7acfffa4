"""Graph-shaped queries on the synthetic star schema (SURVEY.md §2.9).

The reference's flagship k-level co-star BFS runs here against the
order↔part bipartite relation (FIXTURES.md §B: "the orders↔customer /
order↔part bipartite relation supports a BFS-shape query"): parts
co-purchased in the same order play the role of actors co-starring in the
same movie. The IMDb ``cast_edges`` table is served by
``operators/graph.costar_bfs``'s point lookups instead; the two BFS forms
share one set of rules, pinned against each other in tests/test_graph.py.

r06 (VERDICT r05 item 1): the whole family — BFS, pair top-k, PageRank,
triangles, SSSP — now reads the SHARED silver co-purchase tables
(``sources/silver.copurchase_pairs`` / ``copurchase_edges``): the
Σ basket² pair build runs ONCE per corpus version, with an enforced
a-priori basket cap (``silver.MAX_BASKET``) guarding the 100 TB hot-basket
blowup, and every query after the first is a linear read of a materialized,
bucketed layout. This is the reference's own one-edge-table-two-views
design (``server.erl:57-58,415-423``) applied at the storage layer. The
DuckDB oracles still derive everything from ``lineitem`` directly — the
cap is pytest-proven inert on bounded-basket data (tests/test_silver.py),
so silver-read and from-scratch plans are hash-identical at every test SF.

The level-3 BFS is fully SQL-expressible (a fixed number of expansion
rounds unrolls into CTEs), so it gets a real DuckDB oracle — including the
deterministic min-parent attachment rule documented in SURVEY §3.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imdb_mapreduce_spark.operators.graph import unipartite_bfs
from imdb_mapreduce_spark.plans.registry import register
from imdb_mapreduce_spark.sources.silver import copurchase_edges, copurchase_pairs
from imdb_mapreduce_spark.sources.star import load_table


@register(
    "copurchase_bfs_l3",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT l_partkey AS node, l_orderkey AS via
      FROM lineitem),
    root AS (SELECT MIN(l_partkey) AS node FROM lineitem),
    r1 AS (
      SELECT e2.node AS dst
      FROM root r
      JOIN edges e1 ON e1.node = r.node
      JOIN edges e2 ON e2.via = e1.via
      WHERE e2.node <> r.node
      GROUP BY e2.node),
    lvl1 AS (
      SELECT (SELECT node FROM root) AS src, dst, 1 AS level FROM r1),
    r2 AS (
      SELECT e2.node AS dst, MIN(f.dst) AS src
      FROM r1 f
      JOIN edges e1 ON e1.node = f.dst
      JOIN edges e2 ON e2.via = e1.via
      WHERE e2.node <> e1.node
        AND e2.node NOT IN (SELECT dst FROM r1)
        AND e2.node <> (SELECT node FROM root)
      GROUP BY e2.node)
    SELECT src, dst, level FROM lvl1
    UNION ALL
    SELECT src, dst, 2 AS level FROM r2
    """,
    tags=("graph", "G1", "G2", "J4", "J5"),
)
def copurchase_bfs_l3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-3 BFS (2 expansion rounds) from the minimum partkey over the
    co-purchase graph — the reference's flagship query shape
    (``master.erl:251-288``) with the deterministic min-parent cleanup.

    r06: runs :func:`unipartite_bfs` over the silver projected edge table
    (bucketed on src), so each round is ONE broadcast-frontier hop against
    a materialized layout instead of the two-hop via-join re-deriving
    co-occurrence from the fact table — its result equals a two-hop BFS
    over (part, order), pinned row-for-row in tests/test_silver.py. Node
    domain is the NATIVE BIGINT partkey (r06 review: the earlier
    string-cast silently defeated the bucketed-on-src layout — a cast
    join key can never match the table's bigint hash buckets, so the big
    side would re-shuffle in exactly the non-broadcast regime the layout
    exists for); the min-parent rule is numeric MIN on both sides. The
    root comes from the parquet footer (zero Spark jobs); parts whose
    only baskets are singletons have empty adjacency in both graph forms,
    so projecting them out of the edge table cannot change the result."""
    edges = copurchase_edges(spark, sf_dir).select("src", "dst")
    from imdb_mapreduce_spark.sources.star import parquet_column_min

    root = parquet_column_min(f"{sf_dir}/lineitem.parquet", "l_partkey")
    if root is None:
        root = (
            load_table(spark, "lineitem", sf_dir)
            .agg(F.min("l_partkey"))
            .collect()[0][0]
        )
    return unipartite_bfs(edges, "src", "dst", int(root), level=3)


@register(
    "copart_pairs_topk",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part1, b.l_partkey AS part2, COUNT(*) AS n_shared_orders
    FROM edges a JOIN edges b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_shared_orders DESC, part1, part2
    LIMIT 20
    """,
    tags=("graph", "J5", "topk"),
)
def copart_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongest co-occurrence pairs (the 1-round expansion join J5 as a
    standalone analytic). r06: a TakeOrdered over the silver pair table —
    the Σ basket² self-join happens once in the silver build (with the
    ``MAX_BASKET`` a-priori cap), and this query is a linear scan + local
    top-k per partition merged on the driver."""
    return (
        copurchase_pairs(spark, sf_dir)
        .select(
            F.col("p1").alias("part1"),
            F.col("p2").alias("part2"),
            F.col("support").alias("n_shared_orders"),
        )
        .orderBy(F.col("n_shared_orders").desc(), "part1", "part2")
        .limit(20)
    )


PR_ITERS = 10
PR_SCALE = 10**15
# Persist the degree-annotated edge relation across power iterations only
# while the edge source (lineitem) is at most this many rows — edges run
# ~4× source rows and ~40 B/row deserialized, so 25M source rows ≈ 100M
# edges ≈ 4 GB cache, the most a shared single-JVM heap should be asked
# to hold; past it the bucketed scan is re-read per round instead (the
# measured trade is +33% at sf0.1 versus surviving at all at 1000× — see
# operators/pagerank.pagerank_exact). The 10× decade stays under the
# threshold, so its measured plans/times are unchanged; driver SFs run
# under pagerank.DRIVER_MAX_EDGES, where no round touches the cache.
PR_PERSIST_MAX_SRC_ROWS = 25_000_000


def _pagerank_oracle(iterations: int = PR_ITERS, scale: int = PR_SCALE) -> str:
    """Unrolled fixed-point PageRank as chained CTEs — every operation is
    integer multiply / floor-divide / sum, mirroring
    ``operators/pagerank.pagerank_exact`` term for term, so the two
    engines agree bit-for-bit (order-independent integer sums)."""
    base_expr = f"(({scale} * 15) // 100) // (SELECT n FROM consts)"
    ctes = [
        "dedges AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        "edges AS (\n"
        "  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst\n"
        "  FROM dedges a JOIN dedges b\n"
        "    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src)",
        "consts AS (SELECT COUNT(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, CAST({scale} // (SELECT n FROM consts) AS BIGINT)"
        " AS r FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"r{i} AS (\n"
            f"  SELECT n.node,\n"
            f"         CAST({base_expr}\n"
            f"              + (85 * CAST(COALESCE(c.contrib, 0) AS BIGINT)) // 100\n"
            f"           AS BIGINT) AS r\n"
            f"  FROM nodes n LEFT JOIN (\n"
            f"    SELECT e.dst, SUM(p.r // d.deg) AS contrib\n"
            f"    FROM r{i-1} p\n"
            f"    JOIN edges e ON e.src = p.node\n"
            f"    JOIN deg d ON d.node = p.node\n"
            f"    GROUP BY e.dst) c ON c.dst = n.node)"
        )
    body = (
        f"SELECT node AS part, r AS rank_scaled,\n"
        f"       CAST(r AS DOUBLE) / {scale} AS rank\n"
        f"FROM r{iterations}\n"
        f"ORDER BY rank_scaled DESC, part LIMIT 50"
    )
    return "WITH " + ",\n".join(ctes) + "\n" + body


@register(
    "pagerank_coparts",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def pagerank_coparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase part graph (parts sharing an order,
    symmetrized), 10 fixed power iterations, top 50 by rank.

    A graph of at most ``operators/pagerank.DRIVER_MAX_EDGES`` (4 M)
    edges runs its rounds on the driver: one count, one Arrow collect and
    numpy int64 rounds. At sf0.01 (231,458 edges) the query runs 4 Spark
    jobs with its top-50 collect where the distributed rounds ran 41, in
    0.9 s instead of 8.4 s (traced ``batch_mixed`` pass, 4-core host);
    sf0.1's 2.39 M edges also fit. The cache, cadence and shuffle-GC
    arguments below apply to the distributed rounds past the bound.

    r06: the symmetric edge set is the silver ``copurchase_edges`` table
    read bucketed on src — in the distributed rounds the per-iteration
    rank⋈edges join re-reads a layout already partitioned on the join
    key, so ten rounds shuffle only (node, rank) tuples, never the edge
    table (the posture ``operators/pagerank`` documents, now realized
    at-rest).

    Oracle (r05, VERDICT item 4): the iteration runs in scaled-integer
    arithmetic (``operators/pagerank.pagerank_exact``, scale 10^15) —
    order-independent, expressible as 10 unrolled CTE rounds in DuckDB,
    bit-identical, hash-comparable."""
    from imdb_mapreduce_spark.operators.pagerank import pagerank_exact
    from imdb_mapreduce_spark.sources.star import parquet_num_rows

    # r08: degrees come precomputed off the silver scan (deg column,
    # written once at build time) — the per-call e ⋈ deg annotation join
    # is gone; see operators/pagerank.pagerank_exact for the numbers.
    edges = copurchase_edges(spark, sf_dir).select("src", "dst", "deg")
    # r09: the edge cache is a data-proportional decision, not a fixed
    # plan (see pagerank_exact's persist_edges note for the measured A/B
    # and the 1000×-corpus lost-block failure): persist while the edge
    # SOURCE is footer-probe small, run scan-backed off the bucketed
    # layout past the threshold. Probe FAILURE fails SAFE (ADVICE r09):
    # an unreadable footer at a corpus-scale sf_dir must not select the
    # persist+cadence-3 branch that is documented to die at 1000×
    # (lost cache blocks, disk-filling shuffles) — the at-scale branch
    # is correctness-equivalent and only +33% at driver SFs, so the
    # unknown-size case takes it and says so loudly.
    try:
        n_src = parquet_num_rows(f"{sf_dir}/lineitem.parquet")
        small = n_src <= PR_PERSIST_MAX_SRC_ROWS
    except (OSError, ValueError) as exc:
        import warnings

        warnings.warn(
            "pagerank_coparts: could not footer-probe "
            f"{sf_dir}/lineitem.parquet ({exc!r}); the data-proportional "
            "cache gate could not be evaluated — failing SAFE to the "
            "scan-backed shuffle-GC branch (correct at any scale, +33% "
            "at driver SFs)",
            RuntimeWarning,
            stacklevel=2,
        )
        small = False
    # Past the threshold the per-round shuffle is itself disk-scale
    # (∝ edges), so the at-scale branch also checkpoints EVERY round and
    # GCs the pre-checkpoint shuffle files (see pagerank_exact's
    # shuffle_gc note) — disk high-water one round's shuffle, not ten.
    # Driver SFs keep the measured cadence-3 optimum and no forced GC.
    ranks = pagerank_exact(
        edges,
        iterations=PR_ITERS,
        scale=PR_SCALE,
        deg="deg",
        persist_edges=small,
        checkpoint_every=3 if small else 1,
        shuffle_gc=not small,
    )
    return (
        ranks.select(
            F.col("node").alias("part"),
            "rank_scaled",
            (F.col("rank_scaled").cast("double") / PR_SCALE).alias("rank"),
        )
        .orderBy(F.col("rank_scaled").desc(), "part")
        .limit(50)
    )


TRI_MIN_SUPPORT = 2  # co-purchase edges must recur in ≥2 orders
TRI_BROADCAST_MAX_EDGES = 5_000_000  # broadcast the pruned edges only under this


@register(
    "copurchase_triangles",
    oracle=f"""
    WITH e AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM e a JOIN e b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {TRI_MIN_SUPPORT}),
    tri AS (
      SELECT e1.p1 AS pa, e1.p2 AS pb, e2.p2 AS pc
      FROM co e1
      JOIN co e2 ON e2.p1 = e1.p2
      JOIN co e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
    SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT pa AS part FROM tri
          UNION ALL SELECT pb FROM tri
          UNION ALL SELECT pc FROM tri)
    GROUP BY part
    """,
    tags=("graph", "G2", "north-star"),
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase part graph (the classic
    cluster-coefficient / community-density primitive the reference's
    digraph G2 never had). Edges are oriented low→high partkey, so each
    triangle is enumerated exactly once as (a<b<c): e(a,b) ⋈ e(b,c) ⋈
    e(a,c).

    r06: the min-support prune now FILTERS the silver pair
    table — a linear columnar read with the predicate pushed to the scan —
    instead of rebuilding the Σ basket² co-occurrence aggregate. The
    min-support filter IS the a-priori prune (raw pairs at sf0.01 number
    115k, support≥2 keeps 3.4k); the cubic triangle join runs only on that
    pruned set, broadcast while a cheap materialized count stays under
    ``TRI_BROADCAST_MAX_EDGES``, else shuffle-hash on the edge keys."""
    co = (
        copurchase_pairs(spark, sf_dir)
        .filter(F.col("support") >= TRI_MIN_SUPPORT)
        .select("p1", "p2")
    )
    # The pruned set is a filter over a MATERIALIZED parquet table, so an
    # exact count is one cheap metadata-and-filter scan (no recompute risk,
    # no checkpoint needed — unlike the r05 derived-aggregate build).
    small = co.count() <= TRI_BROADCAST_MAX_EDGES
    if small:
        e1, e2, e3 = co.alias("e1"), F.broadcast(co.alias("e2")), F.broadcast(co.alias("e3"))
    else:
        e1, e2, e3 = co.alias("e1"), co.alias("e2").hint("shuffle_hash"), co.alias("e3").hint("shuffle_hash")
    tri = (
        e1.join(e2, F.col("e2.p1") == F.col("e1.p2"))
        .join(
            e3,
            (F.col("e3.p1") == F.col("e1.p1")) & (F.col("e3.p2") == F.col("e2.p2")),
        )
        .select(
            F.col("e1.p1").alias("pa"),
            F.col("e1.p2").alias("pb"),
            F.col("e2.p2").alias("pc"),
        )
    )
    corners = (
        tri.select(F.col("pa").alias("part"))
        .unionAll(tri.select(F.col("pb").alias("part")))
        .unionAll(tri.select(F.col("pc").alias("part")))
    )
    return corners.groupBy("part").agg(F.count("*").cast("long").alias("n_triangles"))


SSSP_ROUNDS = 3  # exact distances over paths of <= 3 edges


@register(
    "copurchase_sssp",
    oracle="""
    WITH e0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pairs AS (
      SELECT a.p AS src, b.p AS dst, COUNT(*) AS c
      FROM e0 a JOIN e0 b ON a.o = b.o AND a.p <> b.p
      GROUP BY 1, 2),
    e AS (SELECT src, dst,
                 CAST(greatest(1, 6 - least(c, 5)) AS BIGINT) AS w
          FROM pairs),
    s AS (SELECT MIN(l_partkey) AS node FROM lineitem),
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM s),
    d1 AS (SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d0
        UNION ALL
        SELECT e.dst, d0.dist + e.w FROM d0 JOIN e ON e.src = d0.node)
      GROUP BY node),
    d2 AS (SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d1
        UNION ALL
        SELECT e.dst, d1.dist + e.w FROM d1 JOIN e ON e.src = d1.node)
      GROUP BY node),
    d3 AS (SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d2
        UNION ALL
        SELECT e.dst, d2.dist + e.w FROM d2 JOIN e ON e.src = d2.node)
      GROUP BY node)
    SELECT node AS part, dist FROM d3
    """,
    tags=("graph", "sssp", "iterative", "north-star"),
)
def copurchase_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded weighted shortest paths from the min partkey over the
    co-purchase graph — the MIN-PLUS iterative operator completing the
    graph family (BFS = set union, PageRank = sum, SSSP = min-plus).
    Edge weight = greatest(1, 6 - least(shared_orders, 5)): parts
    co-purchased often are 'close' (w=1), rare pairings cost 5 — integer
    weights keep every distance exact and hash-portable. {SSSP_ROUNDS}
    delta-relaxation rounds (``operators/sssp.bounded_sssp``) equal
    {SSSP_ROUNDS} unrolled full-relaxation rounds in the oracle — the
    delta form relaxes only last round's improved nodes, provably the
    same fixpoint prefix.

    r06: the weighted edges are ONE projection over the silver symmetric
    edge table (support → w) — the r05 localCheckpoint that amortized the
    derived Σ basket² build per query is obsolete now that the build is
    amortized across the whole family at the storage layer; each
    relaxation round re-reads a 3-column bucketed parquet layout, the
    honest scale posture. Source scalar still comes from the parquet
    footer (zero Spark jobs)."""
    from imdb_mapreduce_spark.operators.sssp import bounded_sssp

    edges = copurchase_edges(spark, sf_dir).select(
        "src",
        "dst",
        F.greatest(F.lit(1), F.lit(6) - F.least(F.col("support"), F.lit(5)))
        .cast("bigint")
        .alias("w"),
    )
    from imdb_mapreduce_spark.sources.star import parquet_column_min

    source = parquet_column_min(f"{sf_dir}/lineitem.parquet", "l_partkey")
    if source is None:
        source = (
            load_table(spark, "lineitem", sf_dir)
            .agg(F.min("l_partkey"))
            .collect()[0][0]
        )
    d = bounded_sssp(edges, source, rounds=SSSP_ROUNDS)
    return d.select(F.col("node").alias("part"), "dist")


RULE_MIN_SUPPORT = 2  # pair must recur in >= 2 baskets to form a rule
RULE_TOPK = 50


@register(
    "basket_association_rules",
    oracle=f"""
    WITH e0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    item AS (SELECT p, COUNT(*) AS s FROM e0 GROUP BY p),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM e0),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS s12
      FROM e0 a JOIN e0 b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
      HAVING COUNT(*) >= {RULE_MIN_SUPPORT}),
    rules AS (
      SELECT p1 AS antecedent, p2 AS consequent, s12 FROM pairs
      UNION ALL
      SELECT p2, p1, s12 FROM pairs)
    SELECT antecedent, consequent, s12 AS pair_support,
           i1.s AS ante_support,
           CAST(s12 AS DOUBLE) / CAST(i1.s AS DOUBLE) AS confidence,
           (CAST(s12 AS DOUBLE) * CAST((SELECT n_orders FROM n) AS DOUBLE))
             / (CAST(i1.s AS DOUBLE) * CAST(i2.s AS DOUBLE)) AS lift
    FROM rules
    JOIN item i1 ON i1.p = rules.antecedent
    JOIN item i2 ON i2.p = rules.consequent
    ORDER BY lift DESC, antecedent, consequent
    LIMIT {RULE_TOPK}
    """,
    tags=("graph", "analytics", "association-rules", "north-star"),
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules from the co-purchase pairs — the a-priori
    market-basket readout (confidence + lift per directed rule, top-k by
    lift) that turns the graph family's edge table into recommendations.

    r06 consolidation: pair supports come from the SHARED silver pair
    table (one Σ basket² build per corpus version, basket-capped); item
    supports and the basket count are one distinct-projection aggregate
    over the fact table. Confidence/lift are per-row double expressions
    (no float aggregation), mirrored token-for-token in the oracle, so
    they are bit-identical across engines; ORDER BY carries the
    (antecedent, consequent) tiebreak. At 100 TB the rule join is
    pair-table ⋈ item-supports on the part key — both sides partition on
    it, and the top-k is a TakeOrdered, never a global sort."""
    pairs = copurchase_pairs(spark, sf_dir).filter(
        F.col("support") >= RULE_MIN_SUPPORT
    )
    e0 = (
        load_table(spark, "lineitem", sf_dir)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    item = e0.groupBy("p").agg(F.count(F.lit(1)).alias("s"))
    # r16 (guide §2.6): the basket count used to be a separate driver
    # action (`e0.select("o").distinct().count()`) — a full lineitem
    # distinct spent BEFORE the real query even started. It now rides the
    # main plan as a 1-row aggregate broadcast-nested-loop-joined onto the
    # rules (same double arithmetic: CAST of an exact integer count, same
    # multiply/divide tree), so the query is ONE action and AQE overlaps
    # the scalar's scan with the pair build instead of serializing them.
    n_rel = e0.agg(
        F.count_distinct(F.col("o")).cast("double").alias("_n_orders")
    )
    rules = pairs.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        F.col("support").alias("s12"),
    ).unionByName(
        pairs.select(
            F.col("p2").alias("antecedent"),
            F.col("p1").alias("consequent"),
            F.col("support").alias("s12"),
        )
    )
    i1 = item.select(F.col("p").alias("antecedent"), F.col("s").alias("ante_support"))
    i2 = item.select(F.col("p").alias("consequent"), F.col("s").alias("_s2"))
    return (
        rules.join(i1, "antecedent")
        .join(i2, "consequent")
        .crossJoin(F.broadcast(n_rel))
        .select(
            "antecedent",
            "consequent",
            F.col("s12").alias("pair_support"),
            "ante_support",
            (F.col("s12").cast("double") / F.col("ante_support").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("s12").cast("double") * F.col("_n_orders"))
                / (F.col("ante_support").cast("double") * F.col("_s2").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(RULE_TOPK)
    )
