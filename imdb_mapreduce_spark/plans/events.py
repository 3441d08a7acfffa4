"""Event-stream analytics plans (SURVEY.md §2.10 — the surface the
reference lacks entirely, mandated [NORTH-STAR] by the driver's ``events``
table): time-bucketed aggregation, ranking/lag windows, gap sessionization,
JSON extraction.

These are the batch forms; ``streaming/`` runs the same logical plans as
Structured Streaming with watermarks. Determinism rules: window orderings
carry the unique ``event_id`` tiebreak; double sums go through exact
DECIMAL (``plans/registry.py``); durations are integer epoch-microsecond diffs.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdb_mapreduce_spark.concurrency import overlap
from imdb_mapreduce_spark.functions.columns import epoch_us
from imdb_mapreduce_spark.operators.temporal import (
    overlap_join_binned,
    suggest_overlap_plan,
)
from imdb_mapreduce_spark.plans.registry import register
from imdb_mapreduce_spark.sources.star import load_table

D2 = "decimal(12,2)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "events", sf_dir)


@register(
    "events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("time", "agg", "window-time"),
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup via date_trunc — partial agg before the
    shuffle; group count is bounded by hours×types regardless of scale."""
    e = _events(spark, sf_dir)
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(D2)).cast("double").alias("total_value"),
    )


# Shared by `events_multires_rollup` (batch cascade) and the r13
# `events_multires_rollup_incremental` (foreachBatch maintenance tier,
# streaming/jobs.py): every tier computed DIRECTLY from raw, so a hash
# match against it proves cascade ≡ direct and incremental ≡ direct.
MULTIRES_ROLLUP_ORACLE = """
    WITH m AS (
      SELECT date_trunc('minute', ts) AS bucket, event_type,
             COUNT(*) AS n, SUM(CAST(value AS DECIMAL(12,2))) AS s
      FROM events GROUP BY 1, 2),
    h AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             COUNT(*) AS n, SUM(CAST(value AS DECIMAL(12,2))) AS s
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT date_trunc('day', ts) AS bucket, event_type,
             COUNT(*) AS n, SUM(CAST(value AS DECIMAL(12,2))) AS s
      FROM events GROUP BY 1, 2)
    SELECT 'minute' AS tier, bucket, event_type,
           CAST(n AS BIGINT) AS n_events, CAST(s AS DOUBLE) AS total_value
    FROM m
    UNION ALL
    SELECT 'hour', bucket, event_type, CAST(n AS BIGINT), CAST(s AS DOUBLE)
    FROM h
    UNION ALL
    SELECT 'day', bucket, event_type, CAST(n AS BIGINT), CAST(s AS DOUBLE)
    FROM d
    """


@register(
    "events_multires_rollup",
    oracle=MULTIRES_ROLLUP_ORACLE,
    tags=("time", "agg", "rollup", "hypertable", "north-star"),
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution continuous aggregate (the hypertable-rollup
    pattern): the 1-MINUTE tier is the only pass over raw events; the
    HOUR tier aggregates the minute tier and the DAY tier the hour tier
    — coarse resolutions are DERIVED, never recomputed from raw, which
    at 100 TB is the difference between scanning n rows once and three
    times (and, maintained incrementally, between touching a day's raw
    partition and touching 1,440 pre-aggregated rows). Sums stay in
    exact DECIMAL between tiers with ONE final double cast, so the
    cascade is bit-identical to direct aggregation — and the oracle
    PROVES it: the DuckDB side computes every tier DIRECTLY from raw,
    so the hash match certifies cascade ≡ direct (count/sum form a
    commutative monoid over the bucket lattice). Every tier is a
    map-side-combining groupBy with group counts bounded by
    buckets×types regardless of corpus size (`AggSpec.cascade`).
    """
    return ROLLUP.cascade(
        _events(spark, sf_dir).select("ts", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Per-class primitives of the minute/hour/day hypertable. Three mergeable
# aggregate classes ride it: the additive sum (here), the KMV distinct
# sketch and the bottom-K quantile sample (below); `AggSpec` binds each
# class's primitives so every hypertable verb is written once.
# ---------------------------------------------------------------------------

# Cross-tier / cross-batch accumulator decimal: wide enough that re-summing
# partial sums never overflows or re-escalates precision between tiers or
# versions (sum(decimal(38,2)) stays decimal(38,2)), exact over
# decimal(12,2) inputs — what makes incremental ≡ direct bit-true.
_SUM_DEC = "decimal(38,2)"


def _sum_merge(df: DataFrame, unit: str) -> DataFrame:
    """Aggregate (bucket, event_type, n_events, s) rows to ``unit``
    granularity by additive merge — the monoid step every tier shares."""
    return df.groupBy(
        F.date_trunc(unit, F.col("bucket")).alias("bucket"),
        "event_type",
    ).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("s").cast(_SUM_DEC).alias("s"),
    )


def _sum_partials(rows: DataFrame, coalesce: bool) -> DataFrame:
    """Raw rows → minute-grain additive partials. ``coalesce`` is the
    COALESCED-total convention: a NULL value contributes 0, so ``s`` is
    the sum of non-null values with 0 when none. Unlike plain SUM (NULL
    for an all-NULL group) that total forms a GROUP — it has inverses
    and no NULL absorbing state — which is what makes the subtract
    repair exact under every null geometry; the erasure oracles carry
    the same ``COALESCE(SUM(...), 0)``."""
    s = F.col("value").cast("decimal(12,2)").cast(_SUM_DEC)
    if coalesce:
        s = F.coalesce(s, F.lit(0).cast(_SUM_DEC))
    return _sum_merge(
        rows.select(
            F.date_trunc("minute", F.col("ts")).alias("bucket"),
            "event_type",
            F.lit(1).cast("long").alias("n_events"),
            s.alias("s"),
        ),
        "minute",
    )


def sum_inverse(partials: DataFrame) -> DataFrame:
    """The additive inverse of sum-class rows (counts and totals
    negated): merged into the touched buckets, it subtracts exactly."""
    return partials.select(
        "bucket",
        "event_type",
        (-F.col("n_events")).cast("long").alias("n_events"),
        (-F.col("s")).cast(_SUM_DEC).alias("s"),
    )


def sum_bucket_stats(df: DataFrame, tier: str) -> DataFrame:
    """One additive tier → the registered readout: exact DECIMAL sums get
    their ONE cast to double here, so the cascade, the incremental fold
    and the realtime read all land on :data:`MULTIRES_ROLLUP_ORACLE`'s
    column shape."""
    return df.select(
        F.lit(tier).alias("tier"),
        "bucket",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("s").cast("double").alias("total_value"),
    )


@register(
    "events_10min_windows",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    """,
    tags=("time", "agg", "window-time"),
)
def events_10min_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows via Spark's canonical ``window()`` operator (the
    same expression Structured Streaming uses — streaming/ reuses this
    plan). Epoch-aligned 10-minute buckets match DuckDB's time_bucket."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_users")
    )


@register(
    "user_running_stats",
    oracle="""
    SELECT event_id, user_id,
           ROW_NUMBER() OVER w AS seq,
           LAG(value) OVER w AS prev_value,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "analytic"),
)
def user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered analytics: sequence number, lag, running total.
    One shuffle on user_id; sort within partitions. Skewed users need
    key-salting with windowed re-merge — implemented as
    ``functions/columns.salted_running_stats`` (ts-monotone chunking,
    bitwise-equal by test); not needed at this key cardinality."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("seq"),
        F.lag("value").over(w).alias("prev_value"),
        F.sum(F.col("value").cast(D2)).over(wf).cast("double").alias("running_value"),
    )


@register(
    "user_sessions",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      FROM gaps)
    SELECT user_id, session_no, COUNT(*) AS n_events,
           MIN(event_id) AS first_event,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess
    GROUP BY user_id, session_no
    """,
    tags=("window", "session"),
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) as composable window
    ops — the batch twin of streaming session_window (streaming/ has the
    watermark variant). Duration emitted as integer epoch-µs diff (exact in
    both engines)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    is_new = (
        prev_ts.isNull()
        | (epoch_us("ts") - epoch_us(prev_ts) > 30 * 60 * 1_000_000)
    ).cast("int")
    sess = e.select(
        "user_id", "event_id", "ts", is_new.alias("is_new")
    ).select(
        "user_id", "event_id", "ts", F.sum("is_new").over(wf).alias("session_no")
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        (epoch_us(F.max("ts")) - epoch_us(F.min("ts"))).alias("duration_us"),
    )


def _session_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_no, start_us, end_us) — the 30-min-gap session
    intervals shared by the temporal family (`user_sessions` is the
    registered per-session stats twin of this build)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    is_new = (
        prev_ts.isNull()
        | (epoch_us("ts") - epoch_us(prev_ts) > 30 * 60 * 1_000_000)
    ).cast("int")
    return (
        e.select("user_id", "event_id", "ts", is_new.alias("is_new"))
        .select(
            "user_id", "ts", F.sum("is_new").over(wf).alias("session_no")
        )
        .groupBy("user_id", "session_no")
        .agg(
            epoch_us(F.min("ts")).alias("start_us"),
            epoch_us(F.max("ts")).alias("end_us"),
        )
    )


# boundaries-per-chunk budget for the distributed sweep: small enough that
# a chunk's window sort is comfortably one-task-sized, large enough that
# phase 2 (one row per chunk) stays trivially bounded
_SWEEP_TARGET_ROWS = 250_000


def sweep_peaks(iv: DataFrame, chunk_us: int = 86_400_000_000) -> DataFrame:
    """Per-chunk peak concurrency over CLOSED intervals
    (start_us/end_us columns) — the distributed sweep-line behind
    `peak_concurrent_sessions`; see its docstring for the two-phase
    decomposition argument. Returns (day_no, peak)."""
    bounds = iv.select(
        F.col("start_us").alias("b_us"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(
            (F.col("end_us") + 1).alias("b_us"), F.lit(-1).alias("delta")
        )
    )
    # chunk of the boundary instant, in exact LONG arithmetic (never the
    # double-division floor() — see overlap_join_binned). Raw SQL `div`
    # TRUNCATES toward zero, not floors (-7 div 2 = -3), so pre-1970
    # chunk labels are not true floor bins — deliberately kept (ADVICE
    # r12): DuckDB `//` truncates identically so the oracle agrees, and
    # the two-phase decomposition only needs the chunking to be a
    # MONOTONE partition of the boundary order, which truncation is.
    d = bounds.withColumn("day_no", F.expr(f"b_us div {int(chunk_us)}"))
    w_in = Window.partitionBy("day_no").orderBy("b_us", "delta")
    within = d.withColumn("lvl_in", F.sum("delta").over(w_in))
    per_day = within.groupBy("day_no").agg(
        F.max("lvl_in").alias("peak_in"), F.sum("delta").alias("net")
    )
    w_off = Window.orderBy("day_no").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return per_day.select(
        "day_no",
        F.coalesce(F.sum("net").over(w_off), F.lit(0)).alias("_carry"),
        "peak_in",
    ).select(
        "day_no",
        # the carried level is itself attained at the chunk's start, so a
        # chunk whose only boundaries are ENDS still reports the level it
        # began with (greatest covers the negative-peak_in case)
        F.greatest(
            F.col("_carry"), F.col("peak_in") + F.col("_carry")
        )
        .cast("long")
        .alias("peak"),
    )


@register(
    "session_overlap_topk",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      FROM gaps),
    iv AS (
      SELECT user_id, session_no,
             epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us
      FROM sess GROUP BY user_id, session_no)
    SELECT a.user_id AS user1, a.session_no AS session1,
           b.user_id AS user2, b.session_no AS session2,
           LEAST(a.end_us, b.end_us) - GREATEST(a.start_us, b.start_us) AS overlap_us
    FROM iv a JOIN iv b
      ON a.user_id < b.user_id
     AND a.start_us <= b.end_us AND b.start_us <= a.end_us
    ORDER BY overlap_us DESC, user1, session1, user2, session2
    LIMIT 50
    """,
    tags=("temporal", "range-join", "session"),
)
def session_overlap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 cross-user session pairs by temporal overlap — the
    LARGE × LARGE interval overlap join (no equi-key), via
    ``operators/temporal.overlap_join_binned``: sessions explode onto
    1-hour bins, the join is an EQUI-join on the bin id (sort-merge /
    shuffled-hash scale machinery, never a nested loop over the cross
    product), the overlap + count-once predicates ride the join
    condition, and top-k is a TakeOrdered. The oracle is the naive
    O(n²)-candidate overlap self-join — feasible for DuckDB at oracle
    SF, which is exactly the plan shape this operator exists to avoid
    at 100 TB. Bin width is DATA-PROPORTIONAL
    (``suggest_overlap_plan``: the cost-model optimum W* = sqrt(d̄·T/n),
    with the explode BUDGET — not the width — sized by the longest
    session, so one long interval cannot cap the resolution) — the
    result set is W-invariant (pytest-pinned), so auto-sizing is a pure
    plan decision, the same contract as the engine's footer-probe
    persist/salt decisions; the measured W A/B behind the model is
    SCALING.md r12's matrix. ``max_bins_per_row`` still fails loudly if
    a pathological interval would explode past budget. Hot-bin salting
    is likewise AUTO-ARMED (r13): the plan's population threshold turns
    the targeted-salting lever on whenever a flash-crowd bin exceeds
    its uniform share — no manual knob between a skewed corpus and the
    13.0 s-vs-81 s drain gap the r12 skew probe measured.
    Completes the temporal-join trilogy: AS-OF (`user_state_asof`),
    broadcast band join (`band_join`), large-large overlap (this).
    Density-extreme sibling: when the pair LIST itself is the blow-up
    (≈1.5e11 overlapping pairs at the measured 100M-event corpus — an
    output-volume bound, SCALING.md r12 addendum 3), the scale-safe
    question is `peak_concurrent_sessions`' sweep-line, which answers
    "how concurrent" on the same corpus in ~53 s.
    Reference analog: the co-occurrence pair scans the reference walks
    per-key (master.erl's per-actor traversals); ours is set-oriented.
    """
    # Materialized ONCE (ADVICE r12): `suggest_overlap_plan`'s stats
    # aggregate is a driver-side .first() BEFORE the join, so without
    # this the sessionization window (shuffle + sort over all events)
    # runs twice per call — once for the probe, once for the join.
    # Retained-block contract (the verify_pairs_jaccard template): the
    # checkpointed interval blocks — one row per (user, session), far
    # smaller than raw events — stay in executor storage until the
    # driver GCs the DataFrame refs and the ContextCleaner releases
    # them; looping harnesses (bench.py) gc.collect() between queries.
    # persist()+unpersist-by-caller was rejected for the same reason as
    # there: the returned DataFrame is consumed lazily after return.
    iv = _session_intervals(spark, sf_dir).localCheckpoint(eager=True)
    a = iv.select(
        F.col("user_id").alias("user1"),
        F.col("session_no").alias("session1"),
        F.col("start_us").alias("start1"),
        F.col("end_us").alias("end1"),
    )
    b = iv.select(
        F.col("user_id").alias("user2"),
        F.col("session_no").alias("session2"),
        F.col("start_us").alias("start2"),
        F.col("end_us").alias("end2"),
    )
    plan = suggest_overlap_plan(iv, "start_us", "end_us")
    pairs = overlap_join_binned(
        a,
        b,
        bin_width=plan.bin_width,
        l_start="start1",
        l_end="end1",
        r_start="start2",
        r_end="end2",
        max_bins_per_row=plan.max_bins_per_row,
        # hot-bin salting ARMED data-proportionally (VERDICT r12 item 3):
        # the threshold comes from the same aggregate that sized W, the
        # exact per-bin counting lives in the operator's pre-pass, and a
        # corpus with no population spike pays only that one aggregate.
        # Counting side "left" is exact here, not an approximation: both
        # join inputs are projections of the SAME checkpointed interval
        # table, so the two exploded bin populations coincide row-for-row
        # and the union the default would compute is the left set itself.
        hot_bin_threshold=plan.hot_bin_threshold,
        hot_bin_salts=plan.hot_bin_salts,
        hot_bin_sides="left",
    ).filter(F.col("user1") < F.col("user2"))
    return (
        pairs.select(
            "user1",
            "session1",
            "user2",
            "session2",
            (
                F.least("end1", "end2") - F.greatest("start1", "start2")
            ).alias("overlap_us"),
        )
        .orderBy(
            F.desc("overlap_us"), "user1", "session1", "user2", "session2"
        )
        .limit(50)
    )


@register(
    "peak_concurrent_sessions",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      FROM gaps),
    iv AS (
      SELECT user_id, session_no,
             epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us
      FROM sess GROUP BY user_id, session_no),
    bounds AS (
      SELECT start_us AS b_us, 1 AS delta FROM iv
      UNION ALL
      SELECT end_us + 1 AS b_us, -1 AS delta FROM iv),
    run AS (
      SELECT b_us, delta,
             SUM(delta) OVER (ORDER BY b_us, delta) AS level
      FROM bounds),
    byday AS (
      SELECT b_us // 86400000000 AS day_no,
             MAX(level) AS mx, SUM(delta) AS net
      FROM run GROUP BY day_no)
    SELECT day_no,
           CAST(GREATEST(
             COALESCE(SUM(net) OVER (ORDER BY day_no
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
             mx) AS BIGINT) AS peak
    FROM byday
    """,
    tags=("temporal", "sweep-line", "session"),
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent sessions per day — the SWEEP-LINE over session
    intervals (capacity planning / rate-limit sizing readout), computed
    WITHOUT the global single-partition sort the textbook algorithm
    implies. Sessions become ±1 boundary events (end+1 so a closed
    interval is still active at its end instant); the running level is a
    prefix sum over (ts, delta) — and that global prefix sum decomposes
    into the ``salted_running_stats`` two-phase shape with the DAY as
    the order-monotone chunk: phase 1 runs the level sum WITHIN each day
    (parallel across days; the default RANGE frame makes same-(ts,delta)
    peers read the post-batch level on both engines, so no per-row
    tiebreak is needed for a deterministic MAX); phase 2 windows over
    the per-day net deltas — one row per day, bounded at any corpus
    size — and the day's true peak is max(within_level) + carry, exact
    because a per-chunk constant shifts max. The -1-sorts-before-+1 tie
    rule means a session ending exactly where another starts never
    fabricates a spurious peak. At 100 TB the chunk just narrows (hour /
    minute) to keep per-chunk rows executor-sized; phase 2 stays tiny.
    Oracle: the naive global-window form of the same sweep.

    The chunk is DATA-PROPORTIONAL (the "narrows at density" claim made
    real after the 1000× run measured the day chunk super-linear —
    120.2 s at 100M events, ~6.3M boundaries per day-partition): a
    footer row-count probe plus one column-pruned min/max job size k =
    2^m sub-day chunks targeting ≤ _SWEEP_TARGET_ROWS (250k) boundaries
    per chunk (k ≤ 8192, which divides the day exactly), the sweep runs at
    day/k granularity, and the per-day output is an EXACT rollup —
    max over fine peaks — because every level attained during a day is
    visible either at one of its boundaries or as the carry into a
    represented fine chunk (`test_sweep_rollup_chunk_invariance`).
    Footer-probe failure falls back to the day chunk with the engine's
    standard fail-safe convention.
    """
    iv = _session_intervals(spark, sf_dir)
    day = 86_400_000_000
    k = 1
    try:
        from imdb_mapreduce_spark.sources.star import parquet_num_rows

        n = parquet_num_rows(f"{sf_dir}/events.parquet")
        e = _events(spark, sf_dir)
        r = e.select(
            epoch_us(F.min("ts")).alias("lo"),
            epoch_us(F.max("ts")).alias("hi"),
        ).first()
        days = max(1, (int(r["hi"]) - int(r["lo"])) // day + 1)
        b_per_day = 2 * n / days
        while k < 8192 and b_per_day / k > _SWEEP_TARGET_ROWS:
            k *= 2
    except Exception:  # noqa: BLE001 — probe failure -> day chunk, fail-safe
        k = 1
    fine = sweep_peaks(iv, day // k)
    if k == 1:
        return fine
    return (
        fine.select(F.expr(f"day_no div {k}").alias("day_no"), "peak")
        .groupBy("day_no")
        .agg(F.max("peak").cast("long").alias("peak"))
    )


@register(
    "events_json_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "agg"),
)
def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (the reference has no JSON surface at all —
    SURVEY §2.3 'no json scalar functions'): get_json_object → typed agg.
    At scale, prefer parsing once via from_json into a struct column in the
    silver layer instead of re-parsing per query."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_variant_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS n_distinct_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)
                    * CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k_sq
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "variant", "agg", "north-star"),
)
def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured decode via Spark 4's VARIANT type — the third
    tier of the JSON trilogy, and the measured choice whenever the
    schema is OPEN (SCALING.md r11: on 3-distinct-path reads at 10M
    rows, struct 3.67 s < variant 4.84 s < string 8.57 s — declare the
    full schema when you can, use variant when you can't, never the
    string path for multi-path reads): ``events_json_stats`` is
    the per-path string re-parse (``get_json_object``),
    ``events_json_struct`` is schema-FULL decode (``from_json`` needs the
    complete schema up front), and this is schemaless-but-typed:
    ``parse_json`` decodes each document ONCE into the binary variant
    encoding (JVM-side ``VariantExpressionEvalUtils.parseJson``, inside
    whole-stage codegen — plan-checked), then ``try_variant_get`` reads
    typed paths from the decoded bytes without re-parsing and without
    declaring untouched fields.

    The decode-once shape matters: ``k`` is extracted in a PROJECTION and
    the aggregate references the extracted column, so one parse serves
    all three aggregates (inlining the expression per-aggregate re-parses
    per reference — visible in the physical plan).

    At 100 TB this is the silver-layer play: persist the VARIANT column
    once and every downstream query gets typed access to ANY path with
    no re-parse and no schema migration when producers add fields. In
    this Spark (4.1.2) the variant type round-trips parquet natively
    (typed `variant` logical type — probed, see
    test_storage.py::test_variant_column_parquet_roundtrip) and READING
    shredded variant is on by default
    (`spark.sql.variant.allowReadingShredded=true`); writer-side
    shredding is still test-gated upstream
    (`spark.sql.variant.forceShreddingSchemaForTest`), so today the win
    is decode-once + binary sub-field reads, with struct-like pruning
    arriving when the writer shreds by default.
    Integer aggregates (count / distinct / sum of squares) keep
    the result hash-portable against the DuckDB string-path oracle —
    the cross-engine proof that variant decode is semantics-preserving.

    The reference has no JSON surface at all (SURVEY §2.3)."""
    e = _events(spark, sf_dir)
    parsed = e.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct(F.col("k")).alias("n_distinct_k"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("sum_k_sq"),
    )


@register(
    "user_event_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_error
    FROM events
    GROUP BY user_id
    """,
    tags=("agg", "pivot"),
)
def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count pivot: one pass, one shuffle, fixed output width —
    the scalable alternative to ``df.groupBy().pivot()`` whose column
    discovery needs an extra job over 100 TB."""
    e = _events(spark, sf_dir)
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return e.groupBy("user_id").agg(*aggs)


# Epoch seconds of 2024-01-01 UTC — the x-offset that keeps every
# regression accumulator exactly representable (see user_value_trend).
TREND_EPOCH = 1_704_067_200


@register(
    "user_value_trend",
    oracle=f"""
    WITH pts AS (
      SELECT user_id,
             date_diff('second', TIMESTAMP '2024-01-01', ts) AS x,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      FROM events),
    s AS (
      SELECT user_id,
             COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts GROUP BY user_id)
    SELECT user_id,
           n AS n_events,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) * 36.0
             AS slope_per_hour,
           (CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0
             AS intercept
    FROM s
    """,
    tags=("agg", "regression", "north-star"),
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of value over time — drift/anomaly
    detection as ONE distributed aggregation (no per-group sort, no
    Python): slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) over INTEGER sums.

    Exactness by construction: x = whole seconds since 2024-01-01 (≤2.6e6
    for this 30-day corpus), y = exact cents. Every accumulator stays in
    BIGINT and the final num/den differences stay under 2^53, so the
    double division is bit-identical cross-engine — no streaming-moment
    (regr_slope/covar) implementation differences to chase. Bounds hold
    through sf1 (~10⁴ rows/user); beyond that switch the two quadratic
    accumulators to DECIMAL(38,0).
    """
    ev = _events(spark, sf_dir)
    pts = ev.select(
        "user_id",
        # integer div, not `/`+cast: double division of large epochs can
        # round across a second boundary before the truncation
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("_us_div"),
        F.col("value").cast(D2).alias("_v"),
    ).select(
        "user_id",
        (F.col("_us_div") - F.lit(TREND_EPOCH)).alias("x"),
        (F.col("_v") * 100).cast("long").alias("y"),
    )
    s = pts.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / F.nullif(den, F.lit(0)).cast("double")
    return s.select(
        "user_id",
        F.col("n").alias("n_events"),
        (slope * 36.0).alias("slope_per_hour"),
        # intercept stays in cents until the single final /100: slope is
        # cents/second, so ȳ − slope·x̄ must be formed in cents on both
        # engines before converting to value units
        (
            (
                F.col("sy").cast("double")
                - slope * F.col("sx").cast("double")
            )
            / F.col("n").cast("double")
            / 100.0
        ).alias("intercept"),
    )


@register(
    "user_running_stats_salted",
    oracle="""
    SELECT event_id, user_id,
           ROW_NUMBER() OVER w AS seq,
           LAG(value) OVER w AS prev_value,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "analytic", "skew"),
)
def user_running_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``user_running_stats`` through the SKEW-SAFE two-phase plan
    (``functions/columns.salted_running_stats``: ts-monotone chunking,
    within-chunk windows, windowed offset re-merge) — registered against
    the SAME oracle as the unsalted query, so the driver gate itself
    proves the salted plan bitwise-equal to the plain window. This is the
    path a 10⁹-events hot key takes at 100 TB; here it demonstrates the
    rewrite costs nothing in correctness."""
    from imdb_mapreduce_spark.functions.columns import salted_running_stats

    return salted_running_stats(_events(spark, sf_dir))


@register(
    "events_sliding_windows",
    oracle="""
    WITH slid AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) - k * INTERVAL '5 minutes'
               AS window_start,
             user_id, value
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
      WHERE ts < time_bucket(INTERVAL '5 minutes', ts)
              - k * INTERVAL '5 minutes' + INTERVAL '10 minutes')
    SELECT window_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM slid GROUP BY 1
    """,
    tags=("time", "agg", "window-time", "sliding"),
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-minute length, 5-minute slide): each event lands
    in exactly length/slide = 2 windows. Spark's ``window()`` does the
    2-row fan-out BEFORE the shuffle, so partial aggregation still applies
    — cost is 2× the tumbling plan, never quadratic. The oracle replays
    the same fan-out with an explicit 2-element unnest."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(D2)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "events_gapfill_zero",
    oracle="""
    WITH bounds AS (
      SELECT time_bucket(INTERVAL '1 hour', MIN(ts)) AS lo,
             time_bucket(INTERVAL '1 hour', MAX(ts)) AS hi
      FROM events),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour
      FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour, event_type,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2)
    SELECT g.hour, t.event_type,
           CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events
    FROM grid g CROSS JOIN types t
    LEFT JOIN actual a ON a.hour = g.hour AND a.event_type = t.event_type
    """,
    tags=("time", "agg", "gapfill"),
)
def events_gapfill_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time series from sparse events: build the full (hour × type)
    grid with ``sequence()`` + explode and left-join the actual counts,
    zero-filling holes — the gap-fill every downstream charting/anomaly
    job needs.

    Scale shape: the grid is hours×types (tiny, broadcastable) regardless
    of event volume; the only big-data pass is the one aggregation.
    ``sequence`` runs on a ONE-ROW frame (min/max agg) — the grid
    generation is driver-free and never touches the fact table again."""
    e = _events(spark, sf_dir)
    actual = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = e.select("event_type").distinct()
    return (
        grid.crossJoin(types)
        .join(F.broadcast(actual), ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


@register(
    "events_rolling_1h",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) OVER w AS BIGINT)
             AS cents_last_hour
    FROM (SELECT event_id, user_id, value,
                 epoch_us(ts) // 1000000 AS sec FROM events) t
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "analytic", "range-frame", "rolling"),
)
def events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event rolling 1-hour features (count + exact-cents sum of the
    same user's events in the trailing hour) via a RANGE window frame —
    the value-based frame the rank/lag family can't express: the frame
    holds every row within 3600 SECONDS, not N rows.

    Same-instant subtlety both engines share: RANGE frames include ALL
    peers of the current ORDER BY value, so simultaneous events see each
    other — deterministic, and exactly mirrored in the oracle. One
    shuffle on user_id, sort within partitions; money in integer cents so
    the rolling sums hash bit-identically.
    """
    e = _events(spark, sf_dir)
    sec = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            sec.alias("sec"),
            (F.col("value").cast(D2) * 100).alias("_cents"),
        )
        .select(
            "event_id",
            "user_id",
            F.count("*").over(w).cast("bigint").alias("n_last_hour"),
            F.sum("_cents").over(w).cast("bigint").alias("cents_last_hour"),
        )
    )


@register(
    "user_retention_cohorts",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w
      FROM events),
    cohort AS (
      SELECT user_id, MIN(w) AS cohort_week FROM wk GROUP BY user_id)
    SELECT c.cohort_week,
           CAST(datediff('day', c.cohort_week, a.w) / 7 AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM cohort c JOIN wk a ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
    tags=("time", "agg", "retention"),
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-active week, then
    counted in every later week they return — the triangular
    cohort-retention matrix every product-analytics stack computes.

    Shape: one distinct (user, week) shuffle, a groupBy(user) for the
    cohort assignment, then a user-keyed join that REUSES the same hash
    partitioning (no extra exchange: both sides arrive partitioned by
    user_id), and a final small-cardinality rollup (weeks × offsets).
    Distinct-first keeps the join input at |users|×|weeks| instead of raw
    event volume — the 100 TB-critical reduction."""
    e = load_table(spark, "events", sf_dir)
    wk = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    cohort = wk.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    return (
        wk.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("w"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@register(
    "event_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t1 FROM events e
      JOIN v ON v.user_id = e.user_id AND e.ts > v.t0
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      JOIN c ON c.user_id = e.user_id AND e.ts > c.t1
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT 'view' AS stage, CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'view>click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
    UNION ALL
    SELECT 'view>click>purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT)
    """,
    tags=("time", "funnel", "analytics"),
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER their first
    view, then purchased AFTER that click — the strictly-sequenced
    conversion funnel (not mere per-type existence, which would over-count
    users who purchased before ever viewing).

    Each stage is a keyed min-aggregation joined to the previous stage on
    user_id — three user-keyed hash shuffles over an already user-bounded
    frame, every join equi on user_id so AQE can broadcast the shrinking
    stage side. Strict '>' on timestamps keeps the stage assignment
    deterministic in both engines."""
    e = load_table(spark, "events", sf_dir)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    count_row = lambda df, label: df.agg(  # noqa: E731
        F.lit(label).alias("stage"), F.count("*").cast("long").alias("n_users")
    ).select("stage", "n_users")
    return (
        count_row(v, "view")
        .unionAll(count_row(c, "view>click"))
        .unionAll(count_row(p, "view>click>purchase"))
    )


@register(
    "event_transition_bigrams",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("time", "window", "analytics"),
)
def event_transition_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (behavioral bigrams): LEAD
    over each user's timeline, then a global (from, to) rollup — the
    Markov-chain input for session-path analysis. One hash exchange on
    user_id for the window (per-user timelines are bounded), then a
    small-cardinality aggregation (|types|²). The (ts, event_id) sort
    carries the unique tiebreak so both engines sequence ties
    identically."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return (
        seq.groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )


@register(
    "ab_experiment_metrics",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN ('0x' || substring(md5('ab1:' || CAST(user_id AS VARCHAR)),
                                          1, 7))::BIGINT % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)),
    metrics AS (
      SELECT a.arm,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases,
             CAST(SUM(CASE WHEN e.event_type = 'purchase'
                           THEN CAST(e.value AS DECIMAL(12,2)) ELSE 0 END)
                  AS DECIMAL(38,2)) AS revenue
      FROM events e JOIN assign a ON a.user_id = e.user_id
      GROUP BY a.arm)
    SELECT arm, n_users, n_purchases,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(n_purchases AS DOUBLE) / CAST(n_users AS DOUBLE)
             AS purchases_per_user,
           CAST(revenue AS DOUBLE) / CAST(n_users AS DOUBLE)
             AS revenue_per_user
    FROM metrics
    """,
    tags=("events", "experiment", "north-star", "audit"),
)
def ab_experiment_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically assigned to arms by
    the portable md5 bucket (salted 'ab1:' — reassignable by changing the
    salt, stable across dataset versions, no RNG), per-arm engagement and
    revenue metrics with exact-DECIMAL money sums. The assignment trick is
    the same content-hash idiom as the train/val/test split — experiment
    membership must never depend on execution order or partitioning.

    Plan: one distinct over users, a broadcast-friendly assignment join,
    one conditional-aggregation pass — at 100 TB the assignment is a
    PROJECTION on the fact scan (the hash needs only user_id), so the
    join exists purely to share the distinct-users frame with the
    per-user denominators."""
    e = load_table(spark, "events", sf_dir)
    arm = F.when(
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ab1:"), F.col("user_id").cast("string"))),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(2),
        )
        == 0,
        "control",
    ).otherwise("treatment")
    revenue = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.col("value").cast("decimal(12,2)"),
        ).otherwise(F.lit(0).cast("decimal(12,2)"))
    ).cast("decimal(38,2)")
    m = (
        e.select("user_id", "event_type", "value", arm.alias("arm"))
        .groupBy("arm")
        .agg(
            F.count_distinct("user_id").cast("long").alias("n_users"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
            revenue.alias("rev"),
        )
    )
    return m.select(
        "arm",
        "n_users",
        "n_purchases",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("n_purchases").cast("double") / F.col("n_users").cast("double")).alias(
            "purchases_per_user"
        ),
        (F.col("rev").cast("double") / F.col("n_users").cast("double")).alias(
            "revenue_per_user"
        ),
    )


# Shared by `events_multires_distinct_rollup` (batch sketch cascade) and
# the r14 `events_multires_distinct_incremental` (foreachBatch sketch
# maintenance, streaming/jobs.py): every tier's KMV sketch computed
# DIRECTLY from raw, so a hash match proves merge-cascade ≡ direct and
# incremental-sketch ≡ direct.
MULTIRES_DISTINCT_ORACLE = """
    WITH hm AS (
      SELECT DISTINCT date_trunc('minute', ts) AS bucket,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL),
    hh AS (
      SELECT DISTINCT date_trunc('hour', ts) AS bucket,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL),
    hd AS (
      SELECT DISTINCT date_trunc('day', ts) AS bucket,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL),
    km AS (SELECT bucket, MAX(h) AS kth_hash, CAST(COUNT(*) AS BIGINT) AS m
           FROM (SELECT bucket, h,
                        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h) AS rn
                 FROM hm) WHERE rn <= 64 GROUP BY bucket),
    kh AS (SELECT bucket, MAX(h) AS kth_hash, CAST(COUNT(*) AS BIGINT) AS m
           FROM (SELECT bucket, h,
                        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h) AS rn
                 FROM hh) WHERE rn <= 64 GROUP BY bucket),
    kd AS (SELECT bucket, MAX(h) AS kth_hash, CAST(COUNT(*) AS BIGINT) AS m
           FROM (SELECT bucket, h,
                        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h) AS rn
                 FROM hd) WHERE rn <= 64 GROUP BY bucket),
    allt AS (
      SELECT 'minute' AS tier, * FROM km
      UNION ALL SELECT 'hour', * FROM kh
      UNION ALL SELECT 'day', * FROM kd)
    SELECT tier, bucket, kth_hash, m,
           CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
                ELSE 63 * CAST(1152921504606846976 AS DOUBLE)
                     / CAST(kth_hash AS DOUBLE) END AS est_distinct
    FROM allt
    """


@register(
    "events_multires_distinct_rollup",
    oracle=MULTIRES_DISTINCT_ORACLE,
    tags=("time", "rollup", "hypertable", "sketch", "north-star"),
)
def events_multires_distinct_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct users per minute/hour/day — the rollup cascade for a
    NON-ADDITIVE aggregate, which is the case the hypertable pattern
    actually exists for: counts and sums re-aggregate by addition
    (`events_multires_rollup`), but an hour's distinct count is NOT the
    sum of its minutes' — it needs a MERGEABLE sketch carried between
    tiers. The KMV k-smallest set is that sketch (union, re-take the K
    smallest — the merge law `plans/quality.py`'s pytests prove): the
    minute tier ranks raw (bucket, user-hash) pairs once, the HOUR tier
    merges its minutes' k-smallest ARRAYS (≤ 60·K rows per hour — never
    raw), the DAY tier merges hours (≤ 24·K). Raw is scanned exactly
    once, and every coarse tier's sketch is IDENTICAL to the one
    direct computation would build — the oracle computes each tier's
    KMV directly from raw in DuckDB (same md5 15-hex-char hash, same
    rank/cut), so the hash match proves merge-cascade ≡ direct at all
    three resolutions, the sketch-valued twin of the count/sum
    cascade's proof. Estimates use the standard (K−1)·M/h(K) form with
    the repo's deterministic md5 hash (`kmv_distinct_users` is the
    single-resolution sibling; K=64, hashes uniform on [0, 2^60)).

    At 100 TB: this is how a time-series store serves "unique users
    last hour/day" without re-scanning raw per resolution — and the
    same arrays are what the INCREMENTAL maintenance step merges per
    batch: `events_multires_distinct_incremental` (streaming/jobs.py,
    r14) folds them into the count/sum tier's versioned exactly-once
    state via the same scaffold, certified by this very oracle —
    KMV-merge is associative and commutative, so sketches slot in.
    """
    return DISTINCT.cascade(_events(spark, sf_dir).select("ts", "user_id"))


def _h60(name: str) -> "F.Column":
    """The repo's deterministic cross-engine hash of a column: the md5
    15-hex-char prefix as a bigint, uniform on [0, 2^60); the oracles
    spell it
    ``('0x' || substring(md5(CAST(x AS VARCHAR)), 1, 15))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(F.col(name).cast("string")), 1, 15), 16, 10
    ).cast("bigint")


def kmv_minute_pairs(e: DataFrame) -> DataFrame:
    """Raw events → (minute bucket, user-hash) pairs — the only pass
    over raw the whole cascade makes. The md5 15-hex-char prefix is the
    repo's deterministic cross-engine hash (uniform on [0, 2^60)).
    NULL users are excluded up front (the SQL ``COUNT(DISTINCT ...)``
    convention — a NULL user is not a user; and a NULL hash would rank
    differently in the two engines: Spark sorts NULLS FIRST, DuckDB
    NULLS LAST — the oracle carries the same predicate). NOT
    pre-deduplicated: ``kmv_k_smallest`` dedups inside its salted sort
    (r14), so emitting raw pairs here saves the whole cascade a full
    shuffle of its largest relation."""
    return e.filter(F.col("user_id").isNotNull()).select(
        F.date_trunc("minute", F.col("ts")).alias("bucket"),
        _h60("user_id").alias("h"),
    )


# Max salt width whose level-2 merge may collect in ONE task: the
# collect holds ≤ fan-in·K longs per bucket (4096·64 = 256Ki ≈ 2 MB) —
# comfortably one-task-sized on any executor. Above it, `kmv_k_smallest`
# folds through one extra salted rank at this width instead of letting
# the single-task collect grow linearly with the session's derived salt
# (= 32× shuffle partitions — ADVICE r14). Output-invariant by the KMV
# merge law; the extra exchange only exists on sessions whose partition
# count exceeds 128, i.e. real clusters, where it is noise next to the
# skew it removes.
_KMV_L2_FANIN = 4096


def kmv_k_smallest(pairs: DataFrame, salt: int | None = None) -> DataFrame:
    """(bucket, h) pairs → one row per bucket with the sorted K-smallest
    hash array. TWO-LEVEL by the KMV merge law (VERDICT r13), so no
    single task ever ranks a bucket's full distinct set: a per-bucket
    ``row_number`` window funnels a flash-crowd minute's U distinct
    users into ONE task's sort to keep 64 rows — the exact skew geometry
    the overlap join's hot-bin salting exists for. Instead, level 1
    takes PARTIAL k-smallest arrays per (bucket, input-partition) —
    each group bounded by the upstream shuffle's partition share of the
    bucket, never the bucket — and level 2 merges the ≤ partitions·K
    survivors per bucket by union + re-take-K-smallest, the same merge
    law ``kmv_merge_up`` applies between tiers. Output is IDENTICAL to
    the single-window rank by that law (any global top-K hash is top-K
    in its own partition), so the direct-from-raw oracle is unchanged.

    CONTRACT: ``pairs`` need NOT be deduplicated, but ``h`` must be
    non-null (``kmv_minute_pairs`` filters NULL users; array explodes
    are non-null by construction). Dedup rides the salted sort: the
    salt is a FUNCTION of h, so every copy of a (bucket, h) pair lands
    in the same (bucket, salt) partition, adjacent after the sort — a
    one-pass ``lag`` filter removes them with NO separate distinct
    exchange, saving the cascade a full shuffle of its largest
    relation (the raw pair set). The second window (rank) reuses the
    first's partitioning+ordering — filter preserves both — so the
    whole level-1 is ONE exchange + ONE Tungsten sort.

    Level 1 is a SALTED window rank, not a collect+sort aggregate: the
    salt derives from h itself (uniform by construction, so the crowd
    splits evenly and the plan stays deterministic), the rank runs
    through Tungsten's unsafe-row sort + streaming lag/row_number
    filters — the probe measured collect_list/collect_set partial
    ARRAYS at 1.3-1.9x this shape's cost at the 50M-crowd geometry
    (array materialization beats boxing but both lose to the binary
    sort)."""
    from imdb_mapreduce_spark.plans.quality import KMV_K

    # Salt width: max level-1 sort group = bucket_distinct / salt, and
    # the level-2 survivor set is ≤ min(salt·K, bucket_distinct) per
    # bucket — raising it costs nothing on uniform corpora (survivors =
    # distinct count regardless) and only ~salt·K rows per mega-crowd
    # bucket. It must sit WELL ABOVE spark.sql.shuffle.partitions: at
    # salt ≈ partitions, a crowd bucket's few salt groups hash onto few
    # reducers (balls-into-bins) and one straggler sorts several groups
    # — measured ×3 at the 50M-crowd geometry (salt 32 → 24.2 s,
    # 256 → 11.5 s, 1024 → 7.8 s; uniform decade corpus flat across all
    # three — SCALING.md r14). The default therefore DERIVES from the
    # session (32× the partition count, floor 1024): a static 1024
    # would re-create the collision geometry on a cluster running
    # shuffle.partitions = 2000+. Output is salt-invariant by the merge
    # law, so the derivation can never change results.
    if salt is None:
        try:
            parts = int(
                pairs.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except ValueError:  # e.g. a vendor build reporting "auto"
            parts = 0
        salt = max(1024, 32 * parts)
    S = int(salt)
    w = Window.partitionBy("bucket", "_s").orderBy("h")
    deduped = (
        pairs.withColumn("_s", F.pmod(F.col("h"), F.lit(S)))
        .withColumn("_prev", F.lag("h").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("h")))
    )
    lvl1 = deduped.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= KMV_K
    )
    if S > _KMV_L2_FANIN:
        # The level-2 collect below holds ≤ salt·K elements of one bucket
        # in ONE aggregation task — bounded, but with the session-derived
        # salt it GROWS with cluster size (salt = 32× shuffle partitions,
        # so a 2000-partition cluster's mega-crowd bucket would collect
        # ~4.1M longs in a single task; ADVICE r14). When the salt
        # exceeds the fan-in cap, fold through ONE more salted rank at
        # the cap width instead: the survivors re-enter this same
        # function as (bucket, h) pairs (already distinct — the salt is
        # a function of h, so no hash ever survives in two salt groups;
        # the dedup pass is then a streaming no-op riding the sort) and
        # the recursive call's S = the constant cap hits the collect
        # branch, bounding every level-2 task at ≤ cap·K elements
        # regardless of cluster size. Output is IDENTICAL by the KMV
        # merge law (any global top-K hash is top-K in its own salt
        # group) — the same law that makes the salt width itself
        # output-invariant — pinned by `test_kmv_rank_recursive_merge`.
        return kmv_k_smallest(lvl1.select("bucket", "h"), salt=_KMV_L2_FANIN)
    return (
        lvl1.groupBy("bucket")
        .agg(F.slice(F.sort_array(F.collect_list("h")), 1, KMV_K).alias("hashes"))
    )


def kmv_merge_arrays(grouped: DataFrame) -> DataFrame:
    """Merge K-BOUNDED sketch arrays per bucket by the KMV law in ONE
    exchange: flatten the (≤ fan-in) child arrays, sort, dedupe
    adjacent duplicates (``array_distinct`` on a sorted array), keep
    the K smallest. Identical output to routing the exploded hashes
    through ``kmv_k_smallest`` — same law, same ordering — but with no
    salted window pass: the salt exists to split UNBOUNDED raw crowds
    across tasks, while every caller here feeds arrays already capped
    at K per child, so a bucket's aggregation buffer holds ≤ fan-in·K
    longs (hour←minute 60·K, day←minute 1440·K ≈ 0.7 MB — TIME-bounded,
    invariant of data scale). r15 opt session 3: drops one exchange +
    one Tungsten sort per merge (plan evidence
    plans/r15/events_multires_distinct_rollup_after.txt); the explode
    is gone too, so the one exchange moves fan-in ROWS per bucket, not
    fan-in·K."""
    from imdb_mapreduce_spark.plans.quality import KMV_K

    # Defensive parity with the explode path (ADVICE r15): explode drops a
    # bucket whose child arrays are all empty; flatten would keep it as an
    # empty-array row (and kmv_bucket_stats would then emit a NULL
    # kth_hash). Unreachable today — every producer emits non-empty
    # collect_list arrays — but pinned here so the two paths stay
    # output-identical by construction.
    return (
        grouped.groupBy("bucket")
        .agg(
            F.slice(
                F.array_distinct(
                    F.sort_array(F.flatten(F.collect_list("hashes")))
                ),
                1,
                KMV_K,
            ).alias("hashes")
        )
        .filter(F.size("hashes") > 0)
    )


def kmv_merge_up(fine: DataFrame, unit: str) -> DataFrame:
    """Coarsen one sketch tier by the KMV merge law: union the fine
    arrays, dedupe, re-take the K smallest — bounded input (≤ children·K
    elements per bucket), raw never touched, one exchange
    (`kmv_merge_arrays`)."""
    return kmv_merge_arrays(
        fine.select(
            F.date_trunc(unit, F.col("bucket")).alias("bucket"), "hashes"
        )
    )


def kmv_bucket_stats(df: DataFrame, tier: str) -> DataFrame:
    """Sketch rows → the registered readout: kth hash, fill m, and the
    standard (K−1)·M/h(K) distinct estimate (exact below fill)."""
    from imdb_mapreduce_spark.plans.quality import KMV_K, KMV_SPACE

    kth = F.element_at("hashes", -1)
    msz = F.size("hashes").cast("long")
    est = F.when(msz < KMV_K, msz.cast("double")).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(float(KMV_SPACE)) / kth.cast("double")
    )
    return df.select(
        F.lit(tier).alias("tier"),
        "bucket",
        kth.cast("long").alias("kth_hash"),
        msz.alias("m"),
        est.alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten: user erasure with continuous-aggregate repair (r14)
# ---------------------------------------------------------------------------

# Harness-vs-repair split for the three erasure bench rows (r15 opt
# session 3 — the same honesty channel as the realtime reads'
# REALTIME_READ_SEC): each registered erasure query builds its
# PRE-erasure state in-query (one raw pass + pin — state that already
# exists in production) before the repair it exists to measure, so the
# bench's end-to-end number is part state-build floor. Each query
# appends the wall seconds of ONLY that state build here; bench.py
# emits them as `erasure_state_sec` so a regression in the REPAIR leg
# (end-to-end minus state build) stays visible without changing what
# any query computes.
ERASURE_STATE_SEC: "dict[str, list[float]]" = {}


def _erasure_state(name: str, spec: "AggSpec", e: DataFrame) -> DataFrame:
    """The pre-erasure minute state of the batch erasure query ``name``:
    one raw pass, pinned (bounded: one row per (bucket[, type]),
    time-horizon-proportional — the carried relation the repair reads
    more than once); its seconds go to ``ERASURE_STATE_SEC[name]``."""
    t0 = time.monotonic()
    m = spec.partials(e).localCheckpoint(eager=True)
    ERASURE_STATE_SEC.setdefault(name, []).append(
        round(time.monotonic() - t0, 3)
    )
    return m


# The deterministic erasure set both engines share (null-safe on both
# sides: a NULL user is neither erased nor silently dropped by the
# remaining-side predicate).
_ERASED_SQL = "user_id IS NOT NULL AND user_id % 7 = 3"
_REMAINING_SQL = "(user_id IS NULL OR user_id % 7 <> 3)"


def _erased_col() -> "F.Column":
    return F.col("user_id").isNotNull() & (F.col("user_id") % 7 == 3)


# Shared by `events_rollup_user_erasure` (batch repair) and the r15
# `events_rollup_erasure_incremental` (erasure folded through the
# versioned foreachBatch scaffold, streaming/jobs.py): the oracle
# rebuilds every tier DIRECTLY from the remaining rows, so hash-green
# proves repair ≡ rebuild-without-them for both harnesses.
ROLLUP_ERASURE_ORACLE = f"""
    WITH remaining AS (SELECT * FROM events WHERE {_REMAINING_SQL}),
    m AS (
      SELECT date_trunc('minute', ts) AS bucket, event_type,
             COUNT(*) AS n,
             COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) AS s
      FROM remaining GROUP BY 1, 2),
    h AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             COUNT(*) AS n,
             COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) AS s
      FROM remaining GROUP BY 1, 2),
    d AS (
      SELECT date_trunc('day', ts) AS bucket, event_type,
             COUNT(*) AS n,
             COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) AS s
      FROM remaining GROUP BY 1, 2)
    SELECT 'minute' AS tier, bucket, event_type,
           CAST(n AS BIGINT) AS n_events, CAST(s AS DOUBLE) AS total_value
    FROM m
    UNION ALL
    SELECT 'hour', bucket, event_type, CAST(n AS BIGINT), CAST(s AS DOUBLE)
    FROM h
    UNION ALL
    SELECT 'day', bucket, event_type, CAST(n AS BIGINT), CAST(s AS DOUBLE)
    FROM d
    """


@register(
    "events_rollup_user_erasure",
    oracle=ROLLUP_ERASURE_ORACLE,
    tags=("time", "rollup", "hypertable", "erasure", "gdpr", "north-star"),
)
def events_rollup_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten with CONTINUOUS-AGGREGATE REPAIR, additive
    family: erase a deterministic user set (user_id % 7 = 3) and repair
    the minute/hour/day rollup by the ADDITIVE INVERSE — the erased
    rows' per-minute partials are negated and merged into ONLY the
    buckets they touch (`rollup_erasure_repair`); coarse tiers
    re-derive for touched buckets and carry otherwise. The oracle
    computes every tier DIRECTLY from the remaining rows in DuckDB, so
    a hash-green row proves subtract-repair ≡ rebuild-without-them —
    deletion served by state math, raw never re-read.

    The value total uses the COALESCED convention (sum of non-null
    values, 0 when none): unlike plain SUM, that total has an inverse
    for every geometry — see `_sum_partials`. The harness builds
    the pre-erasure state in-query (one raw pass); in production the
    state already exists and only the erased rows (user-indexed) are
    read. Erasure-set choice: ~1/7 of users, so the driver-SF gate
    exercises dense touching; erasing a handful of users at the decade
    shows the state-proportional repair cost (SCALING.md r14)."""
    e = _events(spark, sf_dir).select("ts", "event_type", "value", "user_id")
    # pre-erasure state: minute from raw (the fan-out relation),
    # hour/day derived from it
    m = _erasure_state("events_rollup_user_erasure", ROLLUP_ERASABLE, e)
    # day direct from the pinned minute state (not via the lazy hour
    # state, whose aggregate would otherwise evaluate twice in the one
    # readout action — r15 opt session 3)
    prev = {
        "minute": m, "hour": _sum_merge(m, "hour"), "day": _sum_merge(m, "day")
    }
    # the erased rows' negated minute partials (second raw pass — the
    # pass a user-keyed index serves at scale), bounded output. NOT
    # pinned here: the coarse tiers evaluate inside ONE final action,
    # where ReuseExchange dedupes the neg agg subtree — an eager pin
    # measured +0.3 s (r15 opt A/B); the multi-action incremental fold
    # pins instead
    neg = sum_inverse(ROLLUP_ERASABLE.partials(e.filter(_erased_col())))
    # passed explicitly (not the default): the two lazy coarse tiers are
    # built 2-wide, the materializing callers' shape
    tiers = rollup_erasure_repair(prev, neg, materialize=_pin_minute)
    return ROLLUP_ERASABLE.readout(tiers)


# Shared by `events_distinct_user_erasure` (batch repair) and the r15
# `events_distinct_erasure_incremental` (erasure folded through the
# versioned sketch state, streaming/jobs.py): the oracle builds each
# tier's KMV sketch DIRECTLY from the remaining rows.
DISTINCT_ERASURE_ORACLE = f"""
    WITH remaining AS (
      SELECT * FROM events
      WHERE user_id IS NOT NULL AND user_id % 7 <> 3),
    hm AS (
      SELECT DISTINCT date_trunc('minute', ts) AS bucket,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM remaining),
    hh AS (
      SELECT DISTINCT date_trunc('hour', ts) AS bucket,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM remaining),
    hd AS (
      SELECT DISTINCT date_trunc('day', ts) AS bucket,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM remaining),
    km AS (SELECT bucket, MAX(h) AS kth_hash, CAST(COUNT(*) AS BIGINT) AS m
           FROM (SELECT bucket, h,
                        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h) AS rn
                 FROM hm) WHERE rn <= 64 GROUP BY bucket),
    kh AS (SELECT bucket, MAX(h) AS kth_hash, CAST(COUNT(*) AS BIGINT) AS m
           FROM (SELECT bucket, h,
                        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h) AS rn
                 FROM hh) WHERE rn <= 64 GROUP BY bucket),
    kd AS (SELECT bucket, MAX(h) AS kth_hash, CAST(COUNT(*) AS BIGINT) AS m
           FROM (SELECT bucket, h,
                        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h) AS rn
                 FROM hd) WHERE rn <= 64 GROUP BY bucket),
    allt AS (
      SELECT 'minute' AS tier, * FROM km
      UNION ALL SELECT 'hour', * FROM kh
      UNION ALL SELECT 'day', * FROM kd)
    SELECT tier, bucket, kth_hash, m,
           CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
                ELSE 63 * CAST(1152921504606846976 AS DOUBLE)
                     / CAST(kth_hash AS DOUBLE) END AS est_distinct
    FROM allt
    """


@register(
    "events_distinct_user_erasure",
    oracle=DISTINCT_ERASURE_ORACLE,
    tags=("time", "rollup", "hypertable", "sketch", "erasure", "gdpr",
          "north-star"),
)
def events_distinct_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten for the NON-additive rollup — the
    mergeability asymmetry made concrete: KMV has NO inverse (removing
    an erased user's hash cannot resurrect the hashes it evicted from
    the K-set), so unlike the additive twin
    (`events_rollup_user_erasure`, pure state math over the erased
    rows), the sketch repair must RE-DERIVE every touched minute from
    the REMAINING raw rows in that minute — still bounded by the
    erased users' bucket footprint (a time-partitioned scan at 100 TB),
    never the corpus — then merge touched hours/days up from the
    repaired minute arrays by the usual law, carrying everything
    untouched. The oracle builds each tier's sketch directly from the
    remaining rows, so hash-green proves repair ≡ rebuild-without-them
    at all three resolutions.

    Measured at the decade (SCALING.md r14): the additive subtract-
    repair is state-proportional; this one adds the touched-minute
    remaining-raw pass — the price of non-invertibility, and the
    reason erasure-heavy deployments favor invertible aggregates or
    per-user sub-sketches."""
    e = _events(spark, sf_dir).select("ts", "user_id")
    # pre-erasure sketch state (one raw pass; exists already in prod)
    prev_m = _erasure_state("events_distinct_user_erasure", DISTINCT, e)
    return DISTINCT.readout(
        rederive_erasure_repair(DISTINCT, e, prev_m, _erased_col())
    )


# ---------------------------------------------------------------------------
# Multi-resolution QUANTILE rollup (r15): the THIRD aggregate class
# through the hypertable cascade. Counts/sums re-aggregate by addition
# (`events_multires_rollup`); distinct counts need the KMV hash-set
# sketch (`events_multires_distinct_rollup`); ORDER STATISTICS need a
# sketch too — but Spark's Greenwald-Khanna `approx_percentile` is not
# cross-engine-deterministic, so it could never ride this repo's hash
# gate. The BOTTOM-K ROW SAMPLE is: keep, per bucket, the K rows whose
# md5(event_id) prefix is smallest — a uniform-without-replacement
# sample (the hash is uniform on [0, 2^60) and event_id is row-unique),
# mergeable by EXACTLY the KMV law (any row in the union's bottom-K is
# in its own child's bottom-K, with multiplicity), and deterministic in
# both engines. One sketch, two estimator families: the K-th hash gives
# the KMV distinct estimate; the sampled VALUES give quantiles — exact
# whenever the bucket holds ≤ K rows (the sample is then the bucket).
# ---------------------------------------------------------------------------

QTL_K = 128  # sample rows kept per bucket (p99 from index ceil(.99·m))

# Max salt width whose level-2 merge may collect in ONE task — the
# quantile twin of `_KMV_L2_FANIN`, lower because sample elements are
# (h, v, uh) structs (~24 B), not bare longs: 1024·128 ≈ 131k structs
# ≈ 3 MB per mega-crowd bucket. Above it, `bottomk_sample` folds through
# one more salted rank at this width (same recursion as
# `kmv_k_smallest`; output-invariant by the merge law).
_QTL_L2_FANIN = 1024


def qtl_minute_pairs(e: DataFrame) -> DataFrame:
    """Raw events → (minute bucket, h, v, uh) — the only pass over raw
    the whole quantile cascade makes. ``h`` = md5 15-hex-char prefix of
    the ROW key ``event_id`` (uniform on [0, 2^60), row-unique — the
    sample is over ROWS, unlike `kmv_minute_pairs`' distinct-user
    hashes), ``v`` the sampled value, ``uh`` the same md5 prefix of
    ``user_id`` carried INSIDE the sample so a future erasure repair
    can test membership without re-reading raw (the exact-trigger move
    `events_distinct_user_erasure` uses — if no sampled row belongs to
    an erased user, bottom-K of the remaining rows IS the stored
    sample). NULL values are excluded (quantiles are over values, the
    SQL aggregate convention); NULL event_ids would hash NULL and rank
    differently across engines, so they are excluded and the oracle
    carries the same predicate."""
    return e.filter(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    ).select(
        F.date_trunc("minute", F.col("ts")).alias("bucket"),
        _h60("event_id").alias("h"),
        F.col("value").alias("v"),
        _h60("user_id").alias("uh"),
    )


def bottomk_sample(pairs: DataFrame, salt: int | None = None) -> DataFrame:
    """(bucket, h, v, uh) rows → one row per bucket with the sorted
    bottom-``QTL_K``-by-hash sample array — `kmv_k_smallest`'s shape
    (two-level salted Tungsten rank, session-derived salt width,
    recursion above the fan-in cap) with two deliberate differences:

    - NO dedup pass: the sample is over ROWS and must keep
      multiplicity (two events sharing an md5-colliding (h, v) are two
      sample rows — top-K selection over a totally ordered multiset is
      mergeable WITH multiplicity: a row in the union's bottom-K ranks
      ≤ K in its own child too);
    - the payload rides the sort: ordering is (h, v, uh) so rank ties
      beyond the hash stay deterministic engine-side; the oracle orders
      by (h, v) only, which is enough because the READOUT (m + value
      quantiles) is invariant to which of two all-but-uh-equal rows
      survives.

    Output is salt-invariant by the same merge law, so the derivation
    can never change results."""
    if salt is None:
        try:
            parts = int(
                pairs.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except ValueError:  # e.g. a vendor build reporting "auto"
            parts = 0
        salt = max(1024, 32 * parts)
    S = int(salt)
    w = Window.partitionBy("bucket", "_s").orderBy("h", "v", "uh")
    lvl1 = (
        pairs.withColumn("_s", F.pmod(F.col("h"), F.lit(S)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= QTL_K)
    )
    if S > _QTL_L2_FANIN:
        return bottomk_sample(
            lvl1.select("bucket", "h", "v", "uh"), salt=_QTL_L2_FANIN
        )
    return lvl1.groupBy("bucket").agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct("h", "v", "uh"))), 1, QTL_K
        ).alias("sample")
    )


def bottomk_merge_arrays(grouped: DataFrame) -> DataFrame:
    """Merge K-BOUNDED sample arrays per bucket by the bottom-K
    multiset law in ONE exchange: flatten the child arrays, sort by the
    same (h, v, uh) struct order the salted rank uses
    (``sort_array``'s struct comparator — fields in declaration order),
    keep the K smallest WITH multiplicity (no dedup — the sample is
    over rows). Identical output to routing the exploded elements
    through ``bottomk_sample``; the salted window pass exists for
    UNBOUNDED raw, while every caller here feeds arrays already capped
    at K per child (≤ fan-in·K structs per bucket, day←minute
    1440·K ≈ 4 MB — TIME-bounded). r15 opt session 3: one exchange +
    in-buffer sort instead of exchange + Tungsten window sort +
    second exchange."""
    # Same empty-array parity guard as kmv_merge_arrays (ADVICE r15).
    return (
        grouped.groupBy("bucket")
        .agg(
            F.slice(
                F.sort_array(F.flatten(F.collect_list("sample"))), 1, QTL_K
            ).alias("sample")
        )
        .filter(F.size("sample") > 0)
    )


def bottomk_merge_up(fine: DataFrame, unit: str) -> DataFrame:
    """Coarsen one sample tier by the bottom-K merge law: union the
    fine buckets' sample rows, re-take the K smallest by hash — bounded
    input (≤ children·K elements per bucket), raw never touched, one
    exchange (`bottomk_merge_arrays`)."""
    return bottomk_merge_arrays(
        fine.select(
            F.date_trunc(unit, F.col("bucket")).alias("bucket"), "sample"
        )
    )


def qtl_bucket_stats(df: DataFrame, tier: str) -> DataFrame:
    """Sample rows → the registered readout: sample fill m and the
    p50/p90/p99 estimates. The estimator is PICK-A-SAMPLED-VALUE (no
    interpolation, hence no float arithmetic to diverge between
    engines): sort the sampled values ascending, take index
    ceil(p·m/100) — computed in EXACT integer form
    floor((p·m + 99) / 100) in both engines (the naive double
    ``CEIL(0.99 * m)`` rounds UP spuriously whenever p·m is exactly
    integral but inexact in binary, e.g. 0.99·100 → 99.00000000000001).
    Exact below fill: m < QTL_K ⟺ the sample IS the bucket, so the
    estimates are the true percentiles."""
    vals = F.array_sort(F.transform(F.col("sample"), lambda x: x["v"]))
    m = F.size("sample").cast("long")

    def q(p: int) -> F.Column:
        idx = F.floor((F.lit(p) * m + F.lit(99)) / F.lit(100)).cast("int")
        return F.element_at(vals, idx)

    return df.select(
        F.lit(tier).alias("tier"),
        "bucket",
        m.alias("m"),
        q(50).alias("p50"),
        q(90).alias("p90"),
        q(99).alias("p99"),
    )


def qtl_erased_users(e: DataFrame) -> DataFrame:
    """Erased rows → their distinct (minute bucket, user hash ``uh``)
    keys — what the quantile erasure trigger tests against the ``uh``
    each stored sample element carries."""
    return (
        e.filter(F.col("user_id").isNotNull())
        .select(
            F.date_trunc("minute", F.col("ts")).alias("bucket"),
            _h60("user_id").alias("uh"),
        )
        .distinct()
    )


# ``materialize(name, df) -> df``: pins or writes one relation of a fold
# or repair ("partials", "minute", "hour", "day") and returns the handle
# later steps read.
Materializer = Callable[[str, DataFrame], DataFrame]


@dataclass(frozen=True)
class AggSpec:
    """One mergeable aggregate class of the minute/hour/day hypertable —
    only what differs between classes. Every hypertable verb is written
    once over a spec: the batch cascade (:meth:`cascade`), the fold
    (`streaming/jobs.merge_batch`), the two erasure repairs below, and
    the incremental, erasure, as-of and realtime harnesses (SAMUEL,
    EDBT 2018: one body shared by many queries).

    - ``partials(rows)``: raw rows → minute-grain state rows (lazy) —
      the only pass over raw;
    - ``merge(rows)``: several minute rows per bucket (stored state ∪ a
      batch's partials) → one, by the class's merge law;
    - ``merge_up(fine, unit)``: coarsen a tier to ``unit`` by that law;
    - ``stats(df, tier)``: one tier's registered readout, and
      ``empty_schema`` the readout's schema when no state exists;
    - ``erased_pairs(rows)`` / ``member()``: set only for a class with
      NO inverse — the erased rows' per-minute keys (alias ``p``) and
      the predicate that one is a member of a stored minute row (alias
      ``s``), the exact trigger of the re-derive repair. The additive
      class leaves both ``None``: it is repaired by subtraction.
    """

    name: str
    partials: Callable[[DataFrame], DataFrame]
    merge: Callable[[DataFrame], DataFrame]
    merge_up: Callable[[DataFrame, str], DataFrame]
    stats: Callable[[DataFrame, str], DataFrame]
    empty_schema: str
    erased_pairs: Callable[[DataFrame], DataFrame] | None = None
    member: Callable[[], Column] | None = None

    @property
    def has_inverse(self) -> bool:
        return self.erased_pairs is None

    def readout(self, tiers: dict[str, DataFrame]) -> DataFrame:
        return (
            self.stats(tiers["minute"], "minute")
            .unionByName(self.stats(tiers["hour"], "hour"))
            .unionByName(self.stats(tiers["day"], "day"))
        )

    def cascade(self, rows: DataFrame) -> DataFrame:
        """The batch cascade: the minute tier is the only pass over raw
        ``rows``, HOUR derives from minute and DAY from hour by
        ``merge_up`` — coarse tiers are never recomputed from raw. The
        minute tier fans out three ways (its own readout, hour, day via
        hour), the broadcast-fan-out shape where exchange reuse stops
        (the realtime read's lesson, SCALING.md r13), so it is pinned
        once — bounded: one row per minute bucket[, type],
        time-horizon-, not corpus-, proportional."""
        m = self.partials(rows).localCheckpoint(eager=True)
        h = self.merge_up(m, "hour")
        return self.readout(
            {"minute": m, "hour": h, "day": self.merge_up(h, "day")}
        )


ROLLUP = AggSpec(
    "rollup",
    partials=lambda rows: _sum_partials(rows, coalesce=False),
    merge=lambda rows: _sum_merge(rows, "minute"),
    merge_up=_sum_merge,
    stats=sum_bucket_stats,
    empty_schema="tier string, bucket timestamp, event_type string,"
    " n_events bigint, total_value double",
)
# The additive state a later erasure repairs: coalesced totals (see
# `_sum_partials`), matching the erasure oracles' COALESCE(SUM(...), 0).
ROLLUP_ERASABLE = replace(
    ROLLUP,
    name="rollup_erasable",
    partials=lambda rows: _sum_partials(rows, coalesce=True),
)
DISTINCT = AggSpec(
    "distinct",
    partials=lambda rows: kmv_k_smallest(kmv_minute_pairs(rows)),
    merge=kmv_merge_arrays,
    merge_up=kmv_merge_up,
    stats=kmv_bucket_stats,
    empty_schema="tier string, bucket timestamp, kth_hash bigint,"
    " m bigint, est_distinct double",
    erased_pairs=kmv_minute_pairs,
    member=lambda: F.array_contains(F.col("s.hashes"), F.col("p.h")),
)
QUANTILE = AggSpec(
    "quantile",
    partials=lambda rows: bottomk_sample(qtl_minute_pairs(rows)),
    merge=bottomk_merge_arrays,
    merge_up=bottomk_merge_up,
    stats=qtl_bucket_stats,
    empty_schema="tier string, bucket timestamp, m bigint,"
    " p50 double, p90 double, p99 double",
    erased_pairs=qtl_erased_users,
    member=lambda: F.exists(
        F.col("s.sample"), lambda x: x["uh"] == F.col("p.uh")
    ),
)


# Shared by `events_multires_quantile_rollup` (batch cascade) and the
# r15 `events_multires_quantile_incremental` (foreachBatch sample
# maintenance, streaming/jobs.py): every tier's bottom-K sample computed
# DIRECTLY from raw, so a hash match proves merge-cascade ≡ direct and
# incremental-sample ≡ direct.
MULTIRES_QUANTILE_ORACLE = f"""
    WITH pr AS (
      SELECT ts,
             ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h,
             value AS v
      FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
    tp AS (
      SELECT 'minute' AS tier, date_trunc('minute', ts) AS bucket, h, v FROM pr
      UNION ALL
      SELECT 'hour', date_trunc('hour', ts), h, v FROM pr
      UNION ALL
      SELECT 'day', date_trunc('day', ts), h, v FROM pr),
    ks AS (
      SELECT tier, bucket, v
      FROM (SELECT tier, bucket, v,
                   ROW_NUMBER() OVER (PARTITION BY tier, bucket
                                      ORDER BY h, v) AS rn
            FROM tp)
      WHERE rn <= {QTL_K}),
    rv AS (
      SELECT tier, bucket, v,
             ROW_NUMBER() OVER (PARTITION BY tier, bucket ORDER BY v) AS rv,
             COUNT(*) OVER (PARTITION BY tier, bucket) AS m
      FROM ks)
    SELECT tier, bucket, CAST(MAX(m) AS BIGINT) AS m,
           MAX(CASE WHEN rv = CAST(FLOOR((50 * m + 99) / 100.0) AS INTEGER)
                    THEN v END) AS p50,
           MAX(CASE WHEN rv = CAST(FLOOR((90 * m + 99) / 100.0) AS INTEGER)
                    THEN v END) AS p90,
           MAX(CASE WHEN rv = CAST(FLOOR((99 * m + 99) / 100.0) AS INTEGER)
                    THEN v END) AS p99
    FROM rv GROUP BY tier, bucket
    """


@register(
    "events_multires_quantile_rollup",
    oracle=MULTIRES_QUANTILE_ORACLE,
    tags=("time", "rollup", "hypertable", "sketch", "quantile",
          "north-star"),
)
def events_multires_quantile_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Value percentiles per minute/hour/day — the rollup cascade for
    ORDER STATISTICS, the third aggregate class through the hypertable
    scaffold (additive count/sum: `events_multires_rollup`; distinct
    via KMV hash sets: `events_multires_distinct_rollup`; and now
    quantiles via bottom-K row samples). An hour's median is not any
    function of its minutes' medians — like distinct counts, order
    statistics need a MERGEABLE summary carried between tiers, and the
    bottom-K-by-row-hash sample is that summary: uniform (md5 prefix of
    the row-unique event_id), mergeable by the KMV law with
    multiplicity (union the children's samples, re-take the K smallest
    — `bottomk_sample`'s doc gives the argument), and deterministic in
    both engines, which GK/t-digest sketches are not.

    The minute tier ranks raw (bucket, h, v) rows once; HOUR merges its
    minutes' sample ARRAYS (≤ 60·K rows per hour — never raw); DAY
    merges hours (≤ 24·K). Raw is scanned exactly once, every coarse
    tier's sample is IDENTICAL to what direct computation would build,
    and the oracle computes each tier's sample directly from raw in
    DuckDB (same hash, same rank/cut, same integer-exact index rule) —
    so the hash match proves merge-cascade ≡ direct at all three
    resolutions. Quantiles are EXACT below fill (a bucket with ≤ K rows
    is fully sampled); above fill they are the sample's percentiles
    (±O(1/√K) in rank). Row counts per bucket are deliberately NOT in
    this sketch — they are the additive cascade's job, over the same
    bucket keys.

    At 100 TB: this is how a time-series store serves "p99 latency last
    hour/day" without re-scanning raw per resolution — and the same
    arrays are what the INCREMENTAL maintenance step merges per batch
    (`events_multires_quantile_incremental`, streaming/jobs.py):
    bottom-K-merge is associative and commutative, so samples slot into
    the versioned exactly-once scaffold exactly as KMV sketches did.

    The reference has no quantile, sketch, or time-rollup surface at
    all (its pipeline is one-shot batch MapReduce over IMDb TSVs,
    `/root/reference/src/server/master.erl`); this family is the
    engine's [NORTH-STAR] extension mandate."""
    return QUANTILE.cascade(
        _events(spark, sf_dir).select("ts", "event_id", "user_id", "value")
    )


# Shared by `events_quantile_user_erasure` (batch repair); the oracle
# builds each tier's bottom-K sample DIRECTLY from the remaining rows.
# NULL-user rows REMAIN (erasure is per-user; a NULL user is nobody's
# data subject) — unlike the distinct family, whose pairs excluded NULL
# users up front, the quantile sample keeps their values.
QUANTILE_ERASURE_ORACLE = f"""
    WITH remaining AS (
      SELECT * FROM events
      WHERE user_id IS NULL OR user_id % 7 <> 3),
    pr AS (
      SELECT ts,
             ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h,
             value AS v
      FROM remaining WHERE value IS NOT NULL AND event_id IS NOT NULL),
    tp AS (
      SELECT 'minute' AS tier, date_trunc('minute', ts) AS bucket, h, v FROM pr
      UNION ALL
      SELECT 'hour', date_trunc('hour', ts), h, v FROM pr
      UNION ALL
      SELECT 'day', date_trunc('day', ts), h, v FROM pr),
    ks AS (
      SELECT tier, bucket, v
      FROM (SELECT tier, bucket, v,
                   ROW_NUMBER() OVER (PARTITION BY tier, bucket
                                      ORDER BY h, v) AS rn
            FROM tp)
      WHERE rn <= {QTL_K}),
    rv AS (
      SELECT tier, bucket, v,
             ROW_NUMBER() OVER (PARTITION BY tier, bucket ORDER BY v) AS rv,
             COUNT(*) OVER (PARTITION BY tier, bucket) AS m
      FROM ks)
    SELECT tier, bucket, CAST(MAX(m) AS BIGINT) AS m,
           MAX(CASE WHEN rv = CAST(FLOOR((50 * m + 99) / 100.0) AS INTEGER)
                    THEN v END) AS p50,
           MAX(CASE WHEN rv = CAST(FLOOR((90 * m + 99) / 100.0) AS INTEGER)
                    THEN v END) AS p90,
           MAX(CASE WHEN rv = CAST(FLOOR((99 * m + 99) / 100.0) AS INTEGER)
                    THEN v END) AS p99
    FROM rv GROUP BY tier, bucket
    """


@register(
    "events_quantile_user_erasure",
    oracle=QUANTILE_ERASURE_ORACLE,
    tags=("time", "rollup", "hypertable", "sketch", "quantile",
          "erasure", "gdpr", "north-star"),
)
def events_quantile_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten for the QUANTILE rollup — the sample
    family sits on the non-invertible side of the mergeability
    asymmetry with KMV (removing a sampled row cannot resurrect the
    rows it evicted from the bottom-K), so the repair re-derives
    touched minutes from REMAINING raw — but with its own exact
    trigger, and this is why `qtl_minute_pairs` carries ``uh`` inside
    every sample element: a minute's bottom-K sample changes only if a
    sampled row BELONGS to an erased user. A non-sampled erased row
    ranks below the kth cut, and removing rows below the cut cannot
    alter the K smallest (under fill the sample holds ALL rows, so any
    erased row is sampled and the test stays exact; an md5-colliding
    surviving user can only fire the trigger spuriously — the
    re-derivation then lands on the same arrays, correct, never
    wrong). Membership is tested against the STORED sample arrays —
    state, not raw — so the pruning costs one broadcast join, and with
    it the touched-partition scan a time-partitioned layout would pay.
    Expected pruning is ~K/rows-per-bucket below the activity
    footprint, the same geometry as the KMV trigger's.

    The oracle builds each tier's sample directly from the remaining
    rows (NULL-user rows remain — a NULL user is nobody's data
    subject), so hash-green proves repair ≡ rebuild-without-them at all
    three resolutions."""
    e = _events(spark, sf_dir).select("ts", "event_id", "user_id", "value")
    # pre-erasure sample state (one raw pass; exists already in prod)
    prev_m = _erasure_state("events_quantile_user_erasure", QUANTILE, e)
    return QUANTILE.readout(
        rederive_erasure_repair(QUANTILE, e, prev_m, _erased_col())
    )


# ---------------------------------------------------------------------------
# Erasure repair, written once over the spec. A class with an inverse is
# repaired by subtraction; a class without one re-derives the touched
# minutes from remaining raw. Both rebuild the coarse tiers the same way.
# ---------------------------------------------------------------------------


def _pin_minute(name: str, df: DataFrame) -> DataFrame:
    """The repairs' default materializer: pin only the repaired minute
    tier — the fan-out relation (its own readout + hour + day), bounded
    at one row per (bucket[, type]); the coarse tiers stay lazy, so a
    single readout action computes them."""
    return df.localCheckpoint(eager=True) if name == "minute" else df


def rederive_tier(
    spec: AggSpec,
    unit: str,
    src: DataFrame,
    touched: DataFrame,
    carried: "dict[str, DataFrame] | None",
    mat: Materializer,
) -> DataFrame:
    """One coarse tier of the hypertable refresh contract: every
    ``unit`` bucket holding a ``touched`` minute RE-DERIVES from the
    minute-grain ``src`` by ``spec.merge_up`` (never raw); every other
    row of ``carried[unit]`` carries as-is (``carried`` is ``None`` when
    there is no prior state). ``touched`` is at minute grain and may
    hold duplicates — it only feeds broadcast semi/anti probes, which
    tolerate them, so no ``.distinct()`` exchange. Every join is
    NULL-SAFE: date_trunc of a NULL ts is a NULL bucket, an ordinary
    group to the oracles' GROUP BY — plain equality would drop it from
    the re-derived tier (r13 review catch)."""
    tc = F.broadcast(
        touched.select(F.date_trunc(unit, F.col("bucket")).alias("_tb"))
    )
    out = spec.merge_up(
        src.join(
            tc,
            F.date_trunc(unit, F.col("bucket")).eqNullSafe(F.col("_tb")),
            "left_semi",
        ),
        unit,
    )
    if carried is not None:
        out = (
            carried[unit]
            .join(tc, F.col("bucket").eqNullSafe(F.col("_tb")), "left_anti")
            .unionByName(out)
        )
    return mat(unit, out)


def _repair_coarse(
    spec: AggSpec,
    m2: DataFrame,
    touched: DataFrame,
    carried: "dict[str, DataFrame]",
    mat: Materializer,
    parallel: bool,
) -> dict[str, DataFrame]:
    """The repaired tiers: hour and day BOTH re-derive from the repaired
    minute tier ``m2`` (r15 opt session 3). Deriving day from the HOUR
    tier chained the subtrees, so the lazy hour merge-up evaluated twice
    inside the single readout action (the broadcast semi/anti probes
    between them defeat ReuseExchange). Output-invariant by each class's
    associative merge law — decimal sums are associative, any hash in a
    day's K-set is top-K in its own child, a row in a day's bottom-K
    ranks ≤ K in its own child with multiplicity kept; interleaved A/B
    at sf0.1: min 2.44 → 2.17 s (additive), 2.21 → 2.06 s (KMV),
    2.58 → 2.30 s (bottom-K). The two builds are independent, so a
    materializing caller (the erasure fold, the history purge) runs
    them 2-wide (guide §2.6)."""

    def build(unit: str) -> "Callable[[], DataFrame]":
        return lambda: rederive_tier(spec, unit, m2, touched, carried, mat)

    if parallel:
        hour, day = overlap(m2.sparkSession, build("hour"), build("day"))
    else:
        hour, day = build("hour")(), build("day")()
    return {"minute": m2, "hour": hour, "day": day}


def rollup_erasure_repair(
    prev: dict[str, DataFrame],
    neg: DataFrame,
    materialize: "Materializer | None" = None,
) -> dict[str, DataFrame]:
    """Repair the three-tier additive rollup after erasing a user set,
    via the ADDITIVE INVERSE: ``neg`` holds the erased rows' per-minute
    partials NEGATED (`sum_inverse`), so merging them into the touched
    minute buckets subtracts exactly (counts and coalesced totals form a
    group); rows whose count reaches zero are dropped (the group no
    longer exists); touched hour/day buckets RE-DERIVE from the repaired
    minute tier. Untouched rows carry.

    At 100 TB this is the cheap path GDPR deletion wants: compute cost
    is O(erased rows + touched buckets) — the erased rows come from a
    user-keyed index/pruned scan, raw is never re-read. Contrast
    :func:`rederive_erasure_repair`: KMV and bottom-K have no inverse,
    so their touched minutes re-derive from remaining RAW — the
    mergeability asymmetry, measured in SCALING.md r14.

    ``materialize(name, df)`` pins each tier (default `_pin_minute`); a
    caller that passes one gets the coarse builds 2-wide."""
    # the touched .distinct() exchange LOOKS removable (the semi/anti
    # probes are duplicate-tolerant) but is load-bearing for the
    # single-final-action batch caller: it is the ReusedExchange point
    # all three tiers' broadcasts share — dropping it made each
    # broadcast re-run the neg aggregation (r15 opt A/B: +0.3 s at
    # sf0.1), so it stays
    touched = neg.select("bucket").distinct()
    t = F.broadcast(touched.select(F.col("bucket").alias("_tb")))
    hot = prev["minute"].join(
        t, F.col("bucket").eqNullSafe(F.col("_tb")), "left_semi"
    )
    cold = prev["minute"].join(
        t, F.col("bucket").eqNullSafe(F.col("_tb")), "left_anti"
    )
    repaired = ROLLUP_ERASABLE.merge(hot.unionByName(neg)).filter(
        F.col("n_events") > 0
    )
    mat = materialize or _pin_minute
    return _repair_coarse(
        ROLLUP_ERASABLE,
        mat("minute", cold.unionByName(repaired)),
        touched,
        prev,
        mat,
        parallel=materialize is not None,
    )


def rederive_erasure_repair(
    spec: AggSpec,
    e: DataFrame,
    prev_m: DataFrame,
    erased: "F.Column",
    prev_coarse: "dict[str, DataFrame] | None" = None,
    materialize: "Materializer | None" = None,
) -> dict[str, DataFrame]:
    """Erasure repair for a class with NO inverse (KMV, bottom-K):
    re-derive the touched minutes from the REMAINING raw rows of ``e``
    in those buckets, carry the rest, re-derive touched hours/days from
    the repaired minute tier. ``prev_m`` is the pre-erasure minute state
    (callers materialize it — it is the carried relation and, unless
    ``prev_coarse`` supplies maintained hour/day state, the source of
    the carried coarse tiers).

    The repair trigger is EXACT membership, not mere activity: a
    minute's K-array or K-sample changes only if one of its members
    belongs to an erased user (``spec.member`` over
    ``spec.erased_pairs``: the user's hash in the KMV array, the user
    hash ``uh`` carried inside each sample element). A non-member ranks
    below the kth cut, so removing it cannot alter the K smallest; under
    fill the state holds every key, so membership is still exact; a
    colliding surviving user only fires the trigger spuriously, and the
    re-derivation then lands on the same state — correct, never wrong.
    At 2.5k distinct users per minute that prunes the re-derive set ~40×
    below the raw activity footprint (P(hash in top-64) ≈ 64/2500), and
    with it the touched-partition scan a time-partitioned layout pays.

    ``materialize(name, df)`` pins each tier (default `_pin_minute`) so
    every relation is computed by exactly one action; a caller that
    passes one gets the coarse builds 2-wide."""
    touched = (
        spec.erased_pairs(e.filter(erased))
        .alias("p")
        .join(
            prev_m.alias("s"),
            F.col("p.bucket").eqNullSafe(F.col("s.bucket")),
            "inner",
        )
        .filter(spec.member())
        .select(F.col("p.bucket").alias("bucket"))
        .distinct()
        # r15 opt: pinned — the touched set (bounded: one row per fired
        # minute) otherwise re-runs its membership join (erased-rows
        # scan ⋈ prev_m) under EVERY tier action's broadcast branch
        # (minute, hour, day are separate actions whenever the caller
        # materializes; broadcast subtrees defeat cross-action reuse)
        .localCheckpoint(eager=True)
    )
    t = F.broadcast(touched.select(F.col("bucket").alias("_tb")))
    remaining_touched = e.filter(~erased).join(
        t,
        F.date_trunc("minute", F.col("ts")).eqNullSafe(F.col("_tb")),
        "left_semi",
    )
    carried_m = prev_m.join(
        t, F.col("bucket").eqNullSafe(F.col("_tb")), "left_anti"
    )
    mat = materialize or _pin_minute
    # maintained coarse state (the incremental fold, the history purge)
    # is used directly — identical to re-merging prev_m up by the law
    # the oracle certifies, minus the recompute
    carried = prev_coarse or {
        unit: spec.merge_up(prev_m, unit) for unit in ("hour", "day")
    }
    return _repair_coarse(
        spec,
        mat("minute", carried_m.unionByName(spec.partials(remaining_touched))),
        touched,
        carried,
        mat,
        parallel=materialize is not None,
    )
