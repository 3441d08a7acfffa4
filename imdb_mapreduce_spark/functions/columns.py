"""Reusable column-function library — the engine's scalar-function surface.

The reference's complete scalar inventory (SURVEY.md §2.3 X1-X9) as named,
composable Column builders, plus the skew-handling aggregation helpers the
100 TB posture calls for. Everything is built-in-function composition:
whole-stage codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# -- the reference's scalar surface (X1-X6) ---------------------------------


def strip_id_prefix(col: Column | str) -> Column:
    """X2 — drop the 2-char ``tt``/``nm`` prefix, parse long
    (``string:to_integer(string:sub_string(S, 3))``, server.erl:263)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.substring(c, 3, 16).cast("long")


def sanitized_identifier(col: Column | str) -> Column:
    """X5 — non-alphanumerics → ``_`` for DOT/identifier use. Uses the
    corrected class ``[^A-Za-z0-9]`` (the reference omits ``0``,
    graph.erl:30)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.regexp_replace(c, "[^A-Za-z0-9]", "_")


def last_token(col: Column | str, sep: str = " ") -> Column:
    """X6 — last delimited token (the surname sort key, graph.erl:95-97)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.element_at(F.split(c, sep), -1)


def epoch_us(col: Column | str) -> Column:
    """Epoch-microseconds of a timestamp column, NTZ-safe.

    ``unix_micros`` hard-rejects TIMESTAMP_NTZ input (the encoding the
    driver's regenerated events.parquet reads as). The cast is a no-op on
    TimestampType and converts NTZ under the session tz (pinned UTC by the
    loaders), so no plan can break on an un-normalized column again
    (VERDICT r03 item 8). All timestamp arithmetic goes through here."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.unix_micros(c.cast("timestamp"))


def bucket_of(col: Column | str, n: int) -> Column:
    """X7 — stable hash bucket in [0, n) (``erlang:phash2(Key, N)`` analog;
    P1's hash-partitioner as an expression). ``pmod`` keeps negatives out."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.pmod(F.hash(c), F.lit(n))


# -- skew-safe aggregation (the SCALE.md salting pattern) -------------------


def salted_collect_set(
    df: DataFrame, key: str, value: str, out: str, salt_buckets: int = 16
) -> DataFrame:
    """``groupBy(key).agg(collect_set(value))`` for skewed keys.

    Two-phase: collect within (key, salt) buckets first — bounding any
    single task's state to |key|/buckets — then merge bucket arrays per
    key. Same result as the direct aggregate (sorted), but no task ever
    materializes a whole pathological key.
    """
    salted = df.withColumn("_salt", F.pmod(F.hash(F.col(value)), F.lit(salt_buckets)))
    partial = salted.groupBy(key, "_salt").agg(
        F.collect_set(value).alias("_partial")
    )
    return partial.groupBy(key).agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_partial")))
        ).alias(out)
    )


def salted_running_stats(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
    value: str = "value",
    chunk: Column | None = None,
    sum_type: str = "decimal(12,2)",
) -> DataFrame:
    """Skew-safe twin of ``plans/events.user_running_stats``: per-key
    ordered seq / lag / running sum when one key holds a pathological
    share of the rows.

    An ORDERED window cannot salt on a random key — the prefix spans the
    whole partition — so the salt must be monotone in the ordering: rows
    chunk on a coarse ``ts`` bucket (default: day). Phase 1 computes
    within-chunk seq/lag/running-sum across (key, chunk) partitions, so
    the hot key's rows spread over as many tasks as it has chunks.
    Phase 2 windows over the tiny per-chunk summary (rows = keys ×
    chunks): cumulative row-count and sum offsets plus the previous
    chunk's last value, broadcast back and merged. All arithmetic stays
    in exact DECIMAL until one final double cast, so the output is
    bitwise-identical to the unsalted plan
    (``tests/test_functions.py::test_salted_running_stats_equals_unsalted``).
    """
    c = (
        chunk
        if chunk is not None
        else F.floor(F.unix_timestamp(F.col(ts).cast("timestamp")) / F.lit(86400))
    )
    d = df.withColumn("_chunk", c)
    w_in = Window.partitionBy(key, "_chunk").orderBy(ts, tiebreak)
    w_run = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    within = d.select(
        tiebreak,
        key,
        "_chunk",
        F.row_number().over(w_in).alias("_seq_in"),
        F.lag(value).over(w_in).alias("_lag_in"),
        F.sum(F.col(value).cast(sum_type)).over(w_run).alias("_run_in"),
    )
    summary = d.groupBy(key, "_chunk").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(F.col(value).cast(sum_type)).alias("_sum"),
        F.max_by(value, F.struct(ts, tiebreak)).alias("_last"),
    )
    w_prev = Window.partitionBy(key).orderBy("_chunk")
    w_off = w_prev.rowsBetween(Window.unboundedPreceding, -1)
    offsets = summary.select(
        key,
        "_chunk",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_cnt_off"),
        F.sum("_sum").over(w_off).alias("_sum_off"),  # NULL for first chunk
        F.lag("_last").over(w_prev).alias("_prev_last"),
    )
    return (
        within.join(F.broadcast(offsets), [key, "_chunk"])
        .select(
            tiebreak,
            key,
            (F.col("_seq_in") + F.col("_cnt_off")).cast("long").alias("seq"),
            F.coalesce(F.col("_lag_in"), F.col("_prev_last")).alias("prev_value"),
            (F.col("_run_in") + F.coalesce(F.col("_sum_off"), F.lit(0)))
            .cast("double")
            .alias("running_value"),
        )
    )
