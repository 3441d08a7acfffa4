"""Extended analytics plans: the operator surface a user migrating OFF the
reference onto a real analytics engine expects (SURVEY.md §2.5/§2.10 list
what the reference lacks — grouping sets, analytic windows, set ops,
multi-way join graphs, fuzzy matching). All oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdb_mapreduce_spark.plans.registry import register
from imdb_mapreduce_spark.sources.star import load_table

D2 = "decimal(12,2)"
D6 = "decimal(9,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


@register(
    "customer_order_window",
    oracle="""
    SELECT o_orderkey AS orderkey, o_custkey AS custkey,
           RANK() OVER w_price AS price_rank,
           DENSE_RANK() OVER w_price AS price_dense_rank,
           NTILE(4) OVER w_price AS price_quartile,
           LEAD(o_orderkey) OVER w_time AS next_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(COUNT(*)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS moving_avg_price
    FROM orders
    WINDOW w_price AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
           w_time  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window", "analytic"),
)
def customer_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic-window family (rank / dense_rank / ntile / lead /
    sliding frame) in one pass: one shuffle on custkey serves all five
    functions (same partition key; Spark chains the sorts within the
    exchange). Moving average in exact decimal (3-row frame sums are
    order-fixed by the frame, but decimal keeps engines bit-identical)."""
    o = _t(spark, sf_dir, "orders")
    w_price = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_time = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_frame = w_time.rowsBetween(-2, Window.currentRow)
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.rank().over(w_price).cast("long").alias("price_rank"),
        F.dense_rank().over(w_price).cast("long").alias("price_dense_rank"),
        F.ntile(4).over(w_price).cast("long").alias("price_quartile"),
        F.lead("o_orderkey").over(w_time).alias("next_orderkey"),
        (
            F.sum(F.col("o_totalprice").cast(D2)).over(w_frame).cast("double")
            / F.count(F.lit(1)).over(w_frame).cast("double")
        ).alias("moving_avg_price"),
    )


@register(
    "events_cube",
    oracle="""
    SELECT event_type, user_id % 10 AS user_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY CUBE (event_type, user_id % 10)
    """,
    tags=("agg", "cube"),
)
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all 4 aggregation granularities in one pass
    (each input row expands to its grouping-set combinations before the
    shuffle; at 100 TB prefer explicit GROUPING SETS over full CUBE when
    only some combinations are consumed)."""
    e = _t(spark, sf_dir, "events")
    return e.cube(
        "event_type", (F.col("user_id") % 10).alias("user_bucket")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(D2)).cast("double").alias("total_value"),
    )


@register(
    "parts_above_brand_avg",
    oracle="""
    WITH brand_avg AS (
      SELECT p_brand,
             CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_price
      FROM part GROUP BY p_brand)
    SELECT p_partkey AS partkey, p_brand AS brand,
           p_retailprice AS retailprice, avg_price
    FROM part JOIN brand_avg USING (p_brand)
    WHERE p_retailprice > avg_price
    """,
    tags=("join", "agg", "correlated"),
)
def parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (parts pricier than their brand average)
    decorrelated into aggregate + broadcast self-join — the plan Catalyst
    produces for the subquery form, written explicitly."""
    p = _t(spark, sf_dir, "part")
    brand_avg = p.groupBy("p_brand").agg(
        (
            F.sum(F.col("p_retailprice").cast(D2)).cast("double")
            / F.count("*").cast("double")
        ).alias("avg_price")
    )
    return (
        p.join(F.broadcast(brand_avg), "p_brand")
        .filter(F.col("p_retailprice") > F.col("avg_price"))
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            F.col("p_retailprice").alias("retailprice"),
            "avg_price",
        )
    )


@register(
    "fuzzy_name_match",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name,
           levenshtein(lower(c_name), 'customer#000000042') AS edit_distance
    FROM customer
    WHERE levenshtein(lower(c_name), 'customer#000000042') <= 2
    """,
    tags=("text", "fuzzy", "dedup"),
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy lookup — the entity-resolution primitive (the
    reference merges identities by exact display name, SURVEY §7 hazard;
    this is the operator that finds near-miss identities). At 100 TB:
    block by name prefix/length before scoring, never all-pairs."""
    c = _t(spark, sf_dir, "customer")
    dist = F.levenshtein(F.lower("c_name"), F.lit("customer#000000042"))
    return (
        c.select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            dist.cast("long").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= 2)
    )


@register(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vectors,
           MIN(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(embedding)),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
               (x, y) -> x + y))) AS min_norm,
           MAX(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(embedding)),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
               (x, y) -> x + y))) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("similarity", "agg", "north-star"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregation: per-label L2-norm extremes (min/max of
    doubles — no cross-row float summation, so exact across engines)."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.expr(
            "aggregate(zip_with(embedding, embedding,"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
    )


@register(
    "orders_by_month",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("time", "agg"),
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup via year/month extraction — bounded group count at
    any scale."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("year"), F.month("o_orderdate").alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(D2)).cast("double").alias("total_price"),
    )


@register(
    "early_not_recent_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    """,
    tags=("setop",),
)
def early_not_recent_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set difference) — the set-op family the reference
    lacks entirely (SURVEY §2.7: union-distinct only)."""
    o = _t(spark, sf_dir, "orders")
    early = o.filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    # subtract == EXCEPT DISTINCT (exceptAll would do bag semantics —
    # removing one right-side occurrence per match — the wrong operator).
    return early.subtract(recent)


@register(
    "events_json_struct",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50)
             AS n_high_k,
           MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k
    FROM events
    GROUP BY user_id
    """,
    tags=("json", "struct"),
)
def events_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json → struct column → field access (vs
    the per-path get_json_object in events_json_stats). At scale, parse
    ONCE into a struct in the silver layer; every later field access is a
    free column reference instead of a re-parse."""
    e = _t(spark, sf_dir, "events")
    parsed = e.withColumn("p", F.from_json("props", "k INT"))
    return parsed.groupBy("user_id").agg(
        F.count(F.when(F.col("p.k") > 50, 1)).alias("n_high_k"),
        F.min("p.k").alias("min_k"),
    )


@register(
    "rollup_grouping_flags",
    oracle="""
    SELECT r_name AS region_name, n_name AS nation_name,
           GROUPING(r_name, n_name) AS gid,
           COUNT(*) AS n_customers
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "rollup", "grouping"),
)
def rollup_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id — the flag that distinguishes a subtotal
    NULL from a NULL data value (essential for consumers of grouping
    sets; both engines use the same bit encoding)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    joined = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    return joined.rollup(
        F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
    ).agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_customers"),
    )


@register(
    "supplier_unpivot",
    oracle="""
    SELECT s_suppkey AS suppkey, 'acctbal' AS metric, s_acctbal AS value FROM supplier
    UNION ALL
    SELECT s_suppkey AS suppkey, 'nationkey' AS metric,
           CAST(s_nationkey AS DOUBLE) AS value FROM supplier
    """,
    tags=("unpivot",),
)
def supplier_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot via stack(): one pass, no self-union scan
    duplication (the UNION ALL oracle reads the table twice; stack reads
    once — the difference matters when the table is 100 TB)."""
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        F.col("s_suppkey").alias("suppkey"),
        F.expr(
            "stack(2, 'acctbal', s_acctbal, 'nationkey', CAST(s_nationkey AS DOUBLE))"
        ).alias("metric", "value"),
    )


@register(
    "order_price_quantiles",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "quantile"),
)
def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use linear
    interpolation on the sorted values — verified bit-identical). Exact
    percentile sorts per group; at 100 TB switch to approx_percentile
    (t-digest sketch, partial-aggregable) and accept the error bound."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_orders"),
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "local_supplier_revenue",
    oracle="""
    SELECT n_name AS nation_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,6)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    tags=("join", "agg", "J1", "J2"),
)
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-table join graph with a non-key join predicate
    (supplier nation must equal customer nation). Join order: facts joined
    first on their keys, all dims broadcast — the region filter prunes via
    the broadcast side. This is the query shape where Catalyst's join
    reordering + AQE earn their keep; the plan has exactly one shuffle
    (orders⋈lineitem) plus the final aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast(D6) - F.col("l_discount").cast(D6))
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (l["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(rev.cast("double").alias("revenue"))
    )


@register(
    "key_skew_profile",
    oracle="""
    WITH per_key AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY user_id),
    ranked AS (
      SELECT user_id, n_rows,
             ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id) AS key_rank,
             CAST(SUM(n_rows) OVER () AS BIGINT) AS total_rows,
             CAST(SUM(n_rows) OVER (ORDER BY n_rows DESC, user_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_rows
      FROM per_key)
    SELECT user_id, n_rows, CAST(key_rank AS BIGINT) AS key_rank,
           total_rows, cum_rows
    FROM ranked WHERE key_rank <= 20
    """,
    tags=("analytic", "skew", "profiling"),
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution profiler: the top-20 heaviest keys with exact row
    counts, rank, and cumulative coverage — the diagnostic that decides
    whether a join/window needs salting (``functions/columns.salted_*``)
    or AQE's skew split suffices. All counters integer, so the profile is
    hash-exact cross-engine.

    Scale shape: one map-side-combining count per key, then every window
    runs on the per-key relation (|keys| rows, not |rows|); the top-20
    filter rides WindowGroupLimit."""
    e = load_table(spark, "events", sf_dir)
    per_key = e.groupBy("user_id").agg(F.count("*").cast("bigint").alias("n_rows"))
    order = [F.col("n_rows").desc(), F.col("user_id")]
    w_rank = Window.orderBy(*order)
    w_all = Window.partitionBy()
    w_cum = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_key.select(
            "user_id",
            "n_rows",
            F.row_number().over(w_rank).cast("bigint").alias("key_rank"),
            F.sum("n_rows").over(w_all).cast("bigint").alias("total_rows"),
            F.sum("n_rows").over(w_cum).cast("bigint").alias("cum_rows"),
        )
        .filter(F.col("key_rank") <= 20)
    )


# Histogram knobs: fixed [0, 500_00) cents domain, 10 buckets of 50_00.
HIST_LO_CENTS = 0
HIST_STEP_CENTS = 50_00
HIST_BUCKETS = 10


@register(
    "event_value_histogram",
    oracle=f"""
    WITH b AS (
      SELECT least(greatest((CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                             - {HIST_LO_CENTS}) // {HIST_STEP_CENTS}, 0),
                   {HIST_BUCKETS - 1}) AS bucket
      FROM events)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST({HIST_LO_CENTS} + bucket * {HIST_STEP_CENTS} AS BIGINT) AS lo_cents,
           CAST({HIST_LO_CENTS} + (bucket + 1) * {HIST_STEP_CENTS} AS BIGINT) AS hi_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM b GROUP BY bucket
    """,
    tags=("analytic", "histogram", "binning"),
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram with edge clamping — distribution
    profiling as ONE aggregation. Binning runs in integer cents
    (DECIMAL→BIGINT before the divide), so bucket boundaries are exact —
    no float x/step whose last-ulp rounding could flip a boundary value
    between engines. Bucket count is a constant: the aggregate output is
    bounded regardless of fact volume."""
    e = load_table(spark, "events", sf_dir)
    bucket = F.least(
        F.greatest(
            F.expr(
                f"(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
                f" - {HIST_LO_CENTS}) div {HIST_STEP_CENTS}"
            ),
            F.lit(0),
        ),
        F.lit(HIST_BUCKETS - 1),
    )
    return (
        e.select(bucket.cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "bucket",
            (F.lit(HIST_LO_CENTS) + F.col("bucket") * HIST_STEP_CENTS)
            .cast("bigint")
            .alias("lo_cents"),
            (F.lit(HIST_LO_CENTS) + (F.col("bucket") + 1) * HIST_STEP_CENTS)
            .cast("bigint")
            .alias("hi_cents"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Z-order data layout (r05): multi-dimensional clustering key
# ---------------------------------------------------------------------------

Z_BITS = 8  # 8 bits per dimension → 16-bit z-value → 256 target files
Z_FILE_SHIFT = 8
EPOCH = "1970-01-01"


def _z_terms(a: str, b: str, bits: int, div: str = "//") -> list[str]:
    """Shared spec of the bit-interleave: one arithmetic term per bit, in
    plain SQL that parses identically in Spark SQL and DuckDB (shiftright
    via integer division, shiftleft via multiplication — no engine-specific
    bit operators). Generating BOTH engines' expressions from this one
    list makes the oracle symmetric by construction. ``div`` is the
    integer-division token — the single dialect difference — passed as a
    parameter (``//`` for DuckDB, ``DIV`` for Spark SQL) so each engine's
    expression is GENERATED, never text-patched after the fact (ADVICE
    r05 item 4: a ``replace('//', ...)`` would silently corrupt the
    expression if ``//`` ever appeared in another context)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({a} {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({b} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return terms


def _z_sql(a: str, b: str, bits: int, div: str = "//") -> str:
    return " + ".join(_z_terms(a, b, bits, div))


@register(
    "zorder_layout_plan",
    oracle=f"""
    WITH dims AS (
      SELECT o_orderkey,
             o_custkey % {1 << Z_BITS} AS ca,
             datediff('day', DATE '{EPOCH}', CAST(o_orderdate AS DATE))
               % {1 << Z_BITS} AS da
      FROM orders)
    SELECT o_orderkey,
           CAST({_z_sql('ca', 'da', Z_BITS)} AS BIGINT) AS zkey,
           CAST(({_z_sql('ca', 'da', Z_BITS)}) // {1 << Z_FILE_SHIFT} AS BIGINT)
             AS file_id
    FROM dims
    """,
    tags=("layout", "north-star", "zorder"),
)
def zorder_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day) — the
    lakehouse OPTIMIZE ZORDER BY primitive: writing files sorted by the
    interleaved key gives BOTH `WHERE o_custkey = ?` and
    `WHERE o_orderdate BETWEEN ?` queries sub-linear file skipping from
    min/max column stats, where a plain sort key serves only its leading
    column.

    The z-value is pure per-row arithmetic (map-side, codegen'd — the
    interleave unrolls to {2 * Z_BITS} add/multiply terms, no UDF). The
    layout step a writer would add is `repartitionByRange(file_id)` +
    `sortWithinPartitions(zkey)` — the same one-exchange total-order
    pattern as ``training_shuffle_order``. Both engines' expressions are
    generated from the same term list (``_z_terms``), so the oracle is
    symmetric by construction; integer div/mod only, exactly portable."""
    # Spark SQL spells integer division DIV; generate the Spark dialect
    # directly from the shared term list (no text patching).
    z_expr = _z_sql("ca", "da", Z_BITS, div="DIV")
    o = load_table(spark, "orders", sf_dir)
    dims = o.select(
        "o_orderkey",
        (F.col("o_custkey") % (1 << Z_BITS)).alias("ca"),
        (
            F.datediff(F.col("o_orderdate"), F.lit(EPOCH).cast("date"))
            % (1 << Z_BITS)
        ).alias("da"),
    )
    return dims.select(
        "o_orderkey",
        F.expr(z_expr).cast("long").alias("zkey"),
        F.expr(f"({z_expr}) DIV {1 << Z_FILE_SHIFT}").cast("long").alias("file_id"),
    )


MAD_K = 3.0  # flag |value − median| > K·MAD


@register(
    "event_value_anomalies",
    oracle=f"""
    WITH stats AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_type, s.med, abs(e.value - s.med) AS ad
      FROM events e JOIN stats s ON s.event_type = e.event_type),
    mads AS (
      SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ANY_VALUE(d.med) AS median_value,
           ANY_VALUE(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.ad > {MAD_K} * m.mad THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers
    FROM dev d JOIN mads m ON m.event_type = d.event_type
    GROUP BY d.event_type
    """,
    tags=("quality", "anomaly", "quantile"),
)
def event_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median absolute deviation
    (MAD) flags, |value − median| > {MAD_K}·MAD — the monitoring rule that
    survives the heavy tails that break z-scores (mean/std are themselves
    dragged by the outliers they should catch).

    Two exact-percentile passes (median, then median of deviations) — the
    deviation pass reuses the event_type hash partitioning, and both
    medians broadcast back as |types|-row sides. All arithmetic is single
    double ops on identical operands, so cross-engine hashes match
    exactly; at 100 TB swap exact percentile for approx_percentile
    (t-digest, partial-aggregable) and keep the same shape."""
    e = _t(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(stats), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mads = dev.groupBy("event_type").agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mads), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.any_value("med").alias("median_value"),
            F.any_value("mad").alias("mad"),
            F.sum(F.when(F.col("ad") > MAD_K * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
    )


@register(
    "shipping_lag_stats",
    oracle="""
    WITH lags AS (
      SELECT date_trunc('month', o.o_orderdate) AS order_month,
             datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
    SELECT order_month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           quantile_cont(lag_days, 0.5) AS median_lag_days,
           quantile_cont(lag_days, 0.9) AS p90_lag_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag_days
    FROM lags
    GROUP BY order_month
    """,
    tags=("time", "quantile", "join"),
)
def shipping_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship fulfilment lag percentiles per order month — the SLA
    report (how long until lines ship, by cohort month). One fact-fact
    equi-join on the order key (both sides shuffle-partition on it), then
    exact interpolated percentiles over integer day lags (integer inputs
    → the interpolation arithmetic is identical in both engines, the
    parity already proven by order_price_quantiles). Exact percentile
    sorts per month group; at 100 TB switch to approx_percentile
    (t-digest, partial-aggregable) exactly as documented for
    order_price_quantiles — same plan shape either way."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.col("o_orderdate")
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lags = o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
        "order_month",
        F.datediff("l_shipdate", "o_orderdate").alias("lag_days"),
    )
    return lags.groupBy("order_month").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.expr("percentile(lag_days, 0.5)").alias("median_lag_days"),
        F.expr("percentile(lag_days, 0.9)").alias("p90_lag_days"),
        F.max("lag_days").cast("long").alias("max_lag_days"),
    )


# ---------------------------------------------------------------------------
# Zone-map pruning audit (r05 session 2): WHY the z-order layout pays off
# ---------------------------------------------------------------------------

ZM_FILES = 64
ZM_CUST_PROBES = 20
ZM_DAY_PROBES = 10
ZM_DAY_STEP = 50
ZM_DAY_WIDTH = 14


@register(
    "zone_map_prune_audit",
    oracle=f"""
    WITH raw AS (
      SELECT o_orderkey, o_custkey,
             datediff('day', DATE '{EPOCH}', CAST(o_orderdate AS DATE)) AS day
      FROM orders),
    mx AS (
      SELECT MAX(o_orderkey) AS mk, MAX(o_custkey) AS mc,
             MIN(day) AS dmin, MAX(day) AS dmax
      FROM raw),
    dims AS (
      -- RANGE-binned coordinates (monotone, 0..{(1 << Z_BITS) - 1}): zone
      -- maps live on raw values, so layout bins must preserve order
      SELECT o_orderkey, o_custkey, day,
             (o_custkey * {1 << Z_BITS}) // (mx.mc + 1) AS ca,
             ((day - mx.dmin) * {1 << Z_BITS})
               // (mx.dmax - mx.dmin + 1) AS da,
             mx.mk AS mk
      FROM raw CROSS JOIN mx),
    assigned AS (
      SELECT o_custkey, day,
             ({_z_sql('ca', 'da', Z_BITS)})
               // {(1 << (2 * Z_BITS)) // ZM_FILES} AS zorder,
             ca // {(1 << Z_BITS) // ZM_FILES} AS custsort,
             (o_orderkey * {ZM_FILES}) // (mk + 1) AS nat
      FROM dims),
    files AS (
      SELECT layout, file,
             MIN(o_custkey) AS c_lo, MAX(o_custkey) AS c_hi,
             MIN(day) AS d_lo, MAX(day) AS d_hi
      FROM (
        SELECT o_custkey, day, 'zorder' AS layout, zorder AS file FROM assigned
        UNION ALL
        SELECT o_custkey, day, 'custsort', custsort FROM assigned
        UNION ALL
        SELECT o_custkey, day, 'natural', nat FROM assigned) u
      GROUP BY 1, 2),
    cust_probes AS (
      SELECT o_custkey AS v FROM (
        SELECT DISTINCT o_custkey FROM orders) t
      ORDER BY md5(CAST(o_custkey AS VARCHAR)), o_custkey
      LIMIT {ZM_CUST_PROBES}),
    day_probes AS (
      SELECT mn + i * {ZM_DAY_STEP} AS lo,
             mn + i * {ZM_DAY_STEP} + {ZM_DAY_WIDTH} AS hi
      FROM (SELECT MIN(day) AS mn FROM raw) m
      CROSS JOIN (SELECT UNNEST(generate_series(0, {ZM_DAY_PROBES - 1})) AS i) g),
    cust_scan AS (
      SELECT f.layout, 'custkey_point' AS probe_kind,
             CAST(COUNT(DISTINCT f.file) AS BIGINT) AS n_files,
             CAST({ZM_CUST_PROBES} AS BIGINT) AS n_probes,
             CAST(SUM(CASE WHEN p.v BETWEEN f.c_lo AND f.c_hi
                           THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned
      FROM files f CROSS JOIN cust_probes p
      GROUP BY 1),
    day_scan AS (
      SELECT f.layout, 'day_range' AS probe_kind,
             CAST(COUNT(DISTINCT f.file) AS BIGINT) AS n_files,
             CAST({ZM_DAY_PROBES} AS BIGINT) AS n_probes,
             CAST(SUM(CASE WHEN p.lo <= f.d_hi AND p.hi >= f.d_lo
                           THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned
      FROM files f CROSS JOIN day_probes p
      GROUP BY 1)
    SELECT layout, probe_kind, n_files, n_probes, files_scanned,
           CAST(files_scanned AS DOUBLE)
             / (CAST(n_probes AS DOUBLE) * CAST(n_files AS DOUBLE))
             AS scan_fraction
    FROM (SELECT * FROM cust_scan UNION ALL SELECT * FROM day_scan) r
    """,
    tags=("layout", "north-star", "zorder", "audit"),
)
def zone_map_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff measurement behind ``zorder_layout_plan``: lay the SAME
    orders out three ways — z-ordered on (custkey, day), range-sorted on
    custkey alone, natural (insert) order — build each layout's per-file
    zone maps (min/max of both columns, exactly what parquet footers
    store), fire identical probe workloads (md5-chosen customer point
    lookups + fixed day-range windows), and report the fraction of files
    a zone-map-aware scanner must read. Expected and observed: custsort
    prunes custkey probes hard but scans ~everything for day ranges;
    z-order prunes BOTH; natural prunes neither — the quantitative
    argument for multi-dimensional clustering, as a query.

    Everything is integer arithmetic over per-file constants: the audit
    costs O(files × probes) AFTER one aggregation over the fact table —
    at 100 TB the zone maps already exist in footers, so only the tiny
    probe × file grid remains."""
    o = load_table(spark, "orders", sf_dir)
    z_expr = _z_sql("ca", "da", Z_BITS, div="DIV")
    raw = o.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit(EPOCH).cast("date")).alias("day"),
    )
    mx = raw.agg(
        F.max("o_orderkey").alias("mk"),
        F.max("o_custkey").alias("mc"),
        F.min("day").alias("dmin"),
        F.max("day").alias("dmax"),
    )
    # RANGE-binned coordinates (monotone): zone maps live on raw values,
    # so layout bins must preserve order — a modulo fold would spread each
    # file across the whole raw range and no probe could ever prune
    dims = raw.crossJoin(F.broadcast(mx)).select(
        "o_orderkey",
        "o_custkey",
        "day",
        F.expr(f"(o_custkey * {1 << Z_BITS}) DIV (mc + 1)").alias("ca"),
        F.expr(
            f"((day - dmin) * {1 << Z_BITS}) DIV (dmax - dmin + 1)"
        ).alias("da"),
        "mk",
    )
    assigned = dims.select(
        "o_custkey",
        "day",
        F.expr(f"({z_expr}) DIV {(1 << (2 * Z_BITS)) // ZM_FILES}").alias("zorder"),
        F.expr(f"ca DIV {(1 << Z_BITS) // ZM_FILES}").alias("custsort"),
        F.expr(f"(o_orderkey * {ZM_FILES}) DIV (mk + 1)").alias("nat"),
    )
    files = (
        assigned.select(
            "o_custkey",
            "day",
            F.expr(
                "stack(3, 'zorder', zorder, 'custsort', custsort,"
                " 'natural', nat) AS (layout, file)"
            ),
        )
        .groupBy("layout", "file")
        .agg(
            F.min("o_custkey").alias("c_lo"),
            F.max("o_custkey").alias("c_hi"),
            F.min("day").alias("d_lo"),
            F.max("day").alias("d_hi"),
        )
    )
    cust_probes = (
        o.select("o_custkey")
        .distinct()
        .orderBy(F.md5(F.col("o_custkey").cast("string")), "o_custkey")
        .limit(ZM_CUST_PROBES)
        .select(F.col("o_custkey").alias("v"))
    )
    day_probes = (
        raw.agg(F.min("day").alias("mn"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(ZM_DAY_PROBES - 1))).alias("i"),
            "mn",
        )
        .select(
            (F.col("mn") + F.col("i") * ZM_DAY_STEP).alias("lo"),
            (F.col("mn") + F.col("i") * ZM_DAY_STEP + ZM_DAY_WIDTH).alias("hi"),
        )
    )
    cust_scan = (
        files.crossJoin(F.broadcast(cust_probes))
        .groupBy("layout")
        .agg(
            F.countDistinct("file").cast("long").alias("n_files"),
            F.lit(ZM_CUST_PROBES).cast("long").alias("n_probes"),
            F.sum(
                F.when(
                    F.col("v").between(F.col("c_lo"), F.col("c_hi")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("files_scanned"),
        )
        .withColumn("probe_kind", F.lit("custkey_point"))
    )
    day_scan = (
        files.crossJoin(F.broadcast(day_probes))
        .groupBy("layout")
        .agg(
            F.countDistinct("file").cast("long").alias("n_files"),
            F.lit(ZM_DAY_PROBES).cast("long").alias("n_probes"),
            F.sum(
                F.when(
                    (F.col("lo") <= F.col("d_hi")) & (F.col("hi") >= F.col("d_lo")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("files_scanned"),
        )
        .withColumn("probe_kind", F.lit("day_range"))
    )
    return cust_scan.unionByName(day_scan).select(
        "layout",
        "probe_kind",
        "n_files",
        "n_probes",
        "files_scanned",
        (
            F.col("files_scanned").cast("double")
            / (F.col("n_probes").cast("double") * F.col("n_files").cast("double"))
        ).alias("scan_fraction"),
    )
