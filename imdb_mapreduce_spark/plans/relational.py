"""Core relational query plans over the synthetic star schema.

Each query re-expresses operator rows from SURVEY.md §2 on the driver's
TPC-H-ish tables (FIXTURES.md §B maps the correspondence: lineitem⋈orders⋈
customer ≈ principals⋈titles/names; nation/region ≈ the broadcast names dim;
groupBy+collect ≈ the adjacency builds A1/A2).

Scale notes are inline per query. General posture: filters precede joins
(Catalyst pushes them into the parquet scan), dims are broadcast explicitly,
aggregates are partial-before-shuffle automatically, and no query collects
to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdb_mapreduce_spark.plans.registry import register
from imdb_mapreduce_spark.sources.star import load_table

# Exact-decimal types for money math (values are 2-decimal; conversion is
# exact, so cross-engine sums are bit-identical — see the registry.py
# module docstring).
D2 = "decimal(12,2)"  # prices, quantities
D6 = "decimal(9,6)"   # rates (discount/tax)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# Aggregation family (A1-A6, §2.5) + filter pushdown (F4, §2.3)
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,6)))) AS DECIMAL(30,6)) AS DOUBLE)
             AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2))
                    * CAST((1 - CAST(l_discount AS DECIMAL(12,6)))
                           * (1 + CAST(l_tax AS DECIMAL(12,6))) AS DECIMAL(15,12)))
                AS DECIMAL(30,6)) AS DOUBLE)
             AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(9,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "A1", "A5", "F4"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan→filter→hash-aggregate. The filter reaches the
    parquet scan (PushedFilters); the aggregate is partial per partition
    then final after a 4-group shuffle — the cheapest possible shape at any
    scale. Money math in exact DECIMAL (order-independent totals)."""
    l = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(D2)
    price = F.col("l_extendedprice").cast(D2)
    disc = F.col("l_discount").cast(D6)
    tax = F.col("l_tax").cast(D6)
    one = F.lit(1).cast(D6)
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("decimal(30,6)").cast("double").alias("sum_disc_price"),
            F.sum(price * ((one - disc) * (one + tax)))
            .cast("decimal(30,6)")
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*").cast("double")).alias("avg_qty"),
            (F.sum(disc).cast("double") / F.count("*").cast("double")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "orders_per_customer",
    oracle="""
    SELECT o_custkey AS custkey,
           COUNT(*) AS n_orders,
           STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orderkeys
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("agg", "A1", "A2", "A3"),
)
def orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's adjacency build (A1/A2: actor→movies) on synthetic
    data: group-collect rendered as a sorted CSV string — the exact shape of
    ``sort_data.py:17``'s groupby+join (A3). collect_list here is bounded by
    orders-per-customer; at 100 TB a pathological key would need salting,
    which the [NORTH-STAR] dedup queries demonstrate."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").alias("n_orders"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list("o_orderkey")), lambda x: x.cast("string")),
            ",",
        ).alias("orderkeys"),
    )


@register(
    "region_rollup",
    oracle="""
    SELECT r_name AS region_name, n_name AS nation_name,
           COUNT(c_custkey) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("join", "agg", "J1", "rollup"),
)
def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim join chain (J1: the reference's names-dictionary lookup
    as a broadcast hash join) + ROLLUP grouping sets. region/nation have
    fixed cardinality at any SF — always broadcast; zero shuffle for the
    joins, one for the aggregate."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    joined = c.join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "inner"
    ).join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"], "inner")
    return joined.rollup(
        F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
    ).agg(
        F.count("c_custkey").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast(D2)).cast("double").alias("total_acctbal"),
    )


@register(
    "priority_segment_union",
    oracle="""
    SELECT o_orderpriority AS val FROM orders
    UNION
    SELECT c_mktsegment AS val FROM customer
    """,
    tags=("setop", "A4"),
)
def priority_segment_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-distinct (§2.7 + A4): the reference's gather-side
    flatten+dedup of worker replies (``master.erl:315-318``)."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderpriority").alias("val"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("val"))
    return o.union(c).distinct()


# ---------------------------------------------------------------------------
# Join family (J1-J5, §2.4)
# ---------------------------------------------------------------------------

@register(
    "revenue_topk",
    oracle="""
    SELECT l_orderkey AS orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,6)))) AS DOUBLE) AS revenue,
           o_orderdate AS orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,6)))) DESC,
             l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "J2"),
)
def revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped fact⋈fact⋈dim with selective filters + top-k.
    Filters push to all three scans; customer(filtered) broadcasts; the
    orders⋈lineitem join shuffles on orderkey (AQE may still broadcast the
    filtered orders side). Top-k ordering is on the EXACT decimal revenue
    with orderkey tiebreak — deterministic across engines."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    rev_dec = F.sum(
        F.col("l_extendedprice").cast(D2) * (F.lit(1).cast(D6) - F.col("l_discount").cast(D6))
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"], "inner")
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "inner")
        .groupBy(F.col("l_orderkey").alias("orderkey"), F.col("o_orderdate").alias("orderdate"))
        .agg(rev_dec.alias("_rev_dec"))
        .orderBy(F.col("_rev_dec").desc(), F.col("orderkey"))
        .limit(10)
        .select("orderkey", F.col("_rev_dec").cast("double").alias("revenue"), "orderdate")
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name
    FROM customer
    ANTI JOIN (SELECT * FROM orders
               WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00') o
      ON o.o_custkey = c_custkey
    """,
    tags=("join", "J4", "anti"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the BFS visited-set exclusion (J4,
    ``master.erl:295-304``) as a standalone operator: customers with no
    orders in 2001+. At scale: anti joins shuffle both sides on the key
    unless the right side broadcasts; AQE decides."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )


@register(
    "active_buildings_semi",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name
    FROM customer
    SEMI JOIN (SELECT * FROM orders
               WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') o
      ON o.o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    """,
    tags=("join", "semi", "F4"),
)
def active_buildings_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (existence filter F7 as a distributed operator):
    BUILDING customers with ≥1 recent order."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )


@register(
    "supplier_part_facts",
    oracle="""
    SELECT s_name AS supplier_name, p_brand AS brand,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    GROUP BY s_name, p_brand
    """,
    tags=("join", "agg", "J1", "J2"),
)
def supplier_part_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim⋈dim star join — the reference's principals⋈names⋈titles
    shape (J1+J2) with both dims broadcast: ZERO join shuffles; the only
    exchange is the final aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"], "inner")
        .join(F.broadcast(p), l["l_partkey"] == p["p_partkey"], "inner")
        .groupBy(F.col("s_name").alias("supplier_name"), F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast(D2)).cast("double").alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Point lookup (Q1/Q2, §2.8) — self-contained key choice (min orderkey with
# a scalar-subquery-free broadcast join, no driver collect)
# ---------------------------------------------------------------------------

@register(
    "order_basket_lookup",
    oracle="""
    SELECT l_orderkey AS orderkey,
           STRING_AGG(DISTINCT CAST(l_partkey AS VARCHAR), ',' ORDER BY CAST(l_partkey AS VARCHAR)) AS parts
    FROM lineitem
    WHERE l_orderkey = (SELECT MIN(l_orderkey) FROM lineitem)
    GROUP BY l_orderkey
    """,
    tags=("lookup", "Q1", "Q2"),
)
def order_basket_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed point lookup (Q1) + gather-dedup (Q2/A4): parts of one order.
    The reference scatter-broadcasts the key to every worker
    (``master.erl:233-242``); in Spark the filter runs on every partition
    and, against a sorted/partitioned silver table, prunes to one file."""
    l = _t(spark, sf_dir, "lineitem")
    min_key = l.agg(F.min("l_orderkey").alias("_mk"))
    return (
        l.join(F.broadcast(min_key), l["l_orderkey"] == F.col("_mk"), "inner")
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(
            F.array_join(
                F.array_sort(F.collect_set(F.col("l_partkey").cast("string"))), ","
            ).alias("parts")
        )
    )


# ---------------------------------------------------------------------------
# Scalar expression surface (X1-X6, §2.3) — projection-only plan
# ---------------------------------------------------------------------------

@register(
    "part_expr_catalog",
    oracle="""
    SELECT p_partkey AS partkey,
           regexp_extract(p_type, '([^ ]+)$', 1) AS type_last_token,
           regexp_replace(p_name, '[^A-Za-z0-9]', '_', 'g') AS name_sanitized,
           trim(p_brand) AS brand_trimmed,
           substr(p_type, 1, 3) AS type_prefix,
           concat_ws('|', p_brand, p_type) AS brand_type,
           len(string_split(p_name, ' ')) AS name_tokens
    FROM part
    """,
    tags=("expr", "X1", "X2", "X3", "X4", "X5", "X6"),
)
def part_expr_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole scalar-function surface (X1-X6) in one
    whole-stage-codegen'd projection: split / last-token (X6 surname sort
    key), prefix-substring (X2 id parse), trim (X3), concat-join (X4),
    sanitize-regex (X5, with the zero-digit bug fixed — SURVEY §2.3)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("partkey"),
        F.regexp_extract("p_type", r"([^ ]+)$", 1).alias("type_last_token"),
        F.regexp_replace("p_name", r"[^A-Za-z0-9]", "_").alias("name_sanitized"),
        F.trim(F.col("p_brand")).alias("brand_trimmed"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.size(F.split("p_name", " ")).cast("long").alias("name_tokens"),
    )


# ---------------------------------------------------------------------------
# Sort / top-k / window ranking (O1-O4 + §2.10 gap)
# ---------------------------------------------------------------------------

@register(
    "brand_top2_parts",
    oracle="""
    SELECT brand, partkey, retailprice, rnk FROM (
      SELECT p_brand AS brand, p_partkey AS partkey, p_retailprice AS retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rnk
      FROM part) t
    WHERE rnk <= 2
    """,
    tags=("window", "topk", "O1", "O2"),
)
def brand_top2_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k via ranking window — the scalable form of the
    reference's display sorts (O1/O2): one shuffle on the partition key,
    sort within partitions, early filter. Unique partkey tiebreak makes
    ranks engine-independent."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        p.select(
            F.col("p_brand").alias("brand"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_retailprice").alias("retailprice"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 2)
    )


@register(
    "nation_customer_sorted",
    oracle="""
    SELECT c_custkey AS custkey,
           regexp_extract(c_name, '([^ #]+)#?[0-9]*$', 1) AS sort_token,
           n_name AS nation_name
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    ORDER BY n_name, regexp_extract(c_name, '([^ #]+)#?[0-9]*$', 1), c_custkey
    LIMIT 100
    """,
    tags=("sort", "O2", "X6"),
)
def nation_customer_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-keyed distributed sort (O2: the surname comparator of
    ``graph.erl:93-98``) + limit. Spark executes as a global range-partition
    sort; LIMIT makes it a TakeOrdered at small k."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    token = F.regexp_extract("c_name", r"([^ #]+)#?[0-9]*$", 1)
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("c_custkey").alias("custkey"),
            token.alias("sort_token"),
            F.col("n_name").alias("nation_name"),
        )
        .orderBy("nation_name", "sort_token", "custkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Set-op / outer-join completions (r04): FULL OUTER + INTERSECT
# ---------------------------------------------------------------------------

@register(
    "segment_reconciliation_fullouter",
    oracle="""
    WITH hv AS (
      SELECT o_custkey AS custkey,
             CAST(COUNT(*) AS BIGINT) AS n_high_value
      FROM orders WHERE o_totalprice > 300000 GROUP BY 1),
    urg AS (
      SELECT o_custkey AS custkey,
             CAST(COUNT(*) AS BIGINT) AS n_urgent
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
    SELECT COALESCE(hv.custkey, urg.custkey) AS custkey,
           COALESCE(hv.n_high_value, 0) AS n_high_value,
           COALESCE(urg.n_urgent, 0) AS n_urgent,
           hv.custkey IS NOT NULL AND urg.custkey IS NOT NULL AS in_both
    FROM hv FULL OUTER JOIN urg ON hv.custkey = urg.custkey
    """,
    tags=("join", "outer", "setop"),
)
def segment_reconciliation_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation of two derived segments (high-value vs
    urgent buyers) — the audit-join shape: keep every key from BOTH sides,
    flag membership. Completes the join-type surface (inner/left/semi/
    anti/asof/band/interval already registered). Both sides aggregate
    BEFORE the join, so the outer join moves (key, count) tuples, never
    order rows."""
    o = _t(spark, sf_dir, "orders")
    hv = (
        o.filter(F.col("o_totalprice") > 300000)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_high_value"))
    )
    urg = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_urgent"))
    )
    h = hv.alias("h")
    u = urg.alias("u")
    return h.join(u, F.col("h.custkey") == F.col("u.custkey"), "full_outer").select(
        F.coalesce(F.col("h.custkey"), F.col("u.custkey")).alias("custkey"),
        F.coalesce(F.col("h.n_high_value"), F.lit(0)).alias("n_high_value"),
        F.coalesce(F.col("u.n_urgent"), F.lit(0)).alias("n_urgent"),
        (F.col("h.custkey").isNotNull() & F.col("u.custkey").isNotNull()).alias(
            "in_both"
        ),
    )


@register(
    "loyal_buyer_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE ts_month(o_orderdate) = 1
    INTERSECT
    SELECT o_custkey FROM orders WHERE ts_month(o_orderdate) = 6
    """.replace("ts_month(o_orderdate)", "EXTRACT(month FROM o_orderdate)"),
    tags=("setop", "intersect"),
)
def loyal_buyer_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two keyed sets — customers who ordered in
    BOTH January and June. Completes the set-op family (union-distinct and
    EXCEPT are already registered). Spark plans this as a left-semi over
    pre-aggregated distinct sets: one shuffle per side on the key."""
    o = _t(spark, sf_dir, "orders")
    jan = o.filter(F.month("o_orderdate") == 1).select(
        F.col("o_custkey").alias("custkey")
    )
    jun = o.filter(F.month("o_orderdate") == 6).select(
        F.col("o_custkey").alias("custkey")
    )
    return jan.intersect(jun)
