"""Readers for the driver's synthetic star-schema parquet tables.

Tables and schemas per /root/repo/TESTDATA.md + FIXTURES.md §B. Parquet is
already the right at-rest format at 100 TB (columnar, predicate pushdown,
vectorized reads) — so the reader is deliberately thin: no schema coercion,
no caching policy here. Column pruning and filter pushdown happen in the
queries themselves and reach the scan via Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Resolved-DataFrame memo: plan-building a parquet read re-parses the file
# footer every call (~80 ms for the events loader's dtype probe — measured
# r05; it was the whole of the r04 "sub-second events regressions"). A
# DataFrame is an immutable logical plan, so handing the same object back
# is safe. Keyed by (application, path, mtime_ns, size): a regenerated
# testdata file or a new session misses the cache — the r03 staleness
# lesson applied to plan objects.
_PLAN_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    d = sf_dir or default_sf_dir()
    # Timestamp semantics (date_trunc/year/window) follow the session tz;
    # the DuckDB oracle treats naive timestamps as tz-free. Pin UTC so
    # results don't depend on whoever built the SparkSession.
    # (conf.get with an explicit default validates the default in Spark 4 —
    # pass none; the key always resolves to the JVM default otherwise)
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{d}/{name}.parquet"
    st = os.stat(path)
    key = (spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_events(spark, d) if name == "events" else spark.read.parquet(path)
    if len(_PLAN_CACHE) >= 256:  # sessions × sf_dirs is tiny; cap anyway
        _PLAN_CACHE.clear()
    _PLAN_CACHE[key] = df
    return df


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Vanilla-session fallback for nanosecond-parquet timestamps.

    ``session.get_spark`` sets ``nanosAsLong`` at build time; the driver's
    correctness harness hands us a session it built itself, so the events
    readers (batch here, streaming in ``streaming/jobs.py``) call this
    guarded setter. It is idempotent and a no-op on engine-built sessions —
    the ONLY config a read path may touch, and only because the conf is a
    read-format flag that must be on before the parquet footer is parsed.
    """
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(key, None) != "true":
        spark.conf.set(key, "true")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType regardless of the at-rest
    parquet encoding. The driver has shipped the table under multiple
    encodings across rounds, so the loader handles all three:

    - ``timestamp[ns]`` → (with ``nanosAsLong``) reads as ``bigint`` nanos;
      floor-divide to µs — the same truncation DuckDB applies;
    - ``timestamp[us]`` without tz → Spark 4 infers ``TIMESTAMP_NTZ``;
      cast to ``timestamp`` under the UTC session tz pinned in
      ``load_table`` (the instant is unchanged, but ``unix_micros`` et al
      accept only TIMESTAMP);
    - plain ``timestamp`` → pass through.

    Every downstream plan (and the DuckDB oracle, which treats naive
    timestamps as tz-free under the same UTC convention) then sees one
    canonical TimestampType column.
    """
    from pyspark.sql import functions as F

    ensure_nanos_as_long(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    dtype = dict(raw.dtypes).get("ts")
    if dtype == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def parquet_num_rows(path: str) -> int:
    """Row count from parquet FOOTERS only (pyarrow, driver-side, zero
    Spark jobs) — works for both single-file tables (the testdata layout)
    and directory tables (Spark writer output). The cheap cardinality
    probe behind broadcast-safety gates."""
    import glob as _glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in _glob.glob(os.path.join(path, "*.parquet"))
        )
    return pq.ParquetFile(path).metadata.num_rows


# Physical types whose row-group min/max statistics are EXACT column
# values. String/binary stats may be TRUNCATED bounds (writers cap the
# stored prefix), so the footer probe refuses them rather than report a
# value that is not in the column.
_STATS_EXACT_TYPES = frozenset(
    {"INT32", "INT64", "FLOAT", "DOUBLE", "BOOLEAN"}
)


def _parquet_column_stat(path: str, column: str, want_max: bool):
    import glob as _glob

    import pyarrow.parquet as pq

    files = (
        _glob.glob(os.path.join(path, "*.parquet"))
        if os.path.isdir(path)
        else [path]
    )
    best = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
        try:
            ci = schema_names.index(column)
        except ValueError:
            return None
        if str(md.schema.column(ci).physical_type) not in _STATS_EXACT_TYPES:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            v = st.max if want_max else st.min
            if best is None:
                best = v
            else:
                best = max(best, v) if want_max else min(best, v)
    return best


def parquet_column_max(path: str, column: str):
    """Column MAX from parquet row-group STATISTICS only (pyarrow,
    driver-side, zero Spark jobs) — the same footer-probe idiom as
    ``parquet_num_rows``, for derivations that need a scale-proof scalar
    (e.g. a guaranteed-fresh surrogate-key offset). Returns None — caller
    must fall back to a real scan — if any row group lacks statistics OR
    the column's physical type is one whose stats may be truncated
    bounds rather than exact values (string/binary)."""
    return _parquet_column_stat(path, column, want_max=True)


def parquet_column_min(path: str, column: str):
    """Column MIN twin of ``parquet_column_max`` — same exactness rules."""
    return _parquet_column_stat(path, column, want_max=False)
