"""Silver-layer storage layouts (the at-rest half of the 100 TB story).

Two mechanisms, both exercised by tests/test_storage.py:

- **Bucketing**: persist a table pre-hashed on its join/group key so
  repeated joins and aggregations on that key run WITHOUT a shuffle
  (SortMergeJoin/HashAggregate read the bucketed layout directly). This is
  the durable version of the reference's co-partitioning-by-tconst
  (SURVEY.md §2.2 note).
- **Small-file audit**: :func:`compaction_plan` sizes the rewrite that
  ``streaming/jobs.compact_state_version`` performs on a versioned state
  tier.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 8
) -> None:
    """Persist hash-bucketed + sorted by ``key`` into the session catalog
    (overwrites). Also clears any orphaned warehouse directory: the
    default catalog is per-session in-memory, so a table dir left by a
    previous session would collide with the fresh CREATE."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if warehouse:
        shutil.rmtree(f"{warehouse}/{table.lower()}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


TARGET_FILE_BYTES = 128 * 1024 * 1024  # the standard parquet target size


def compaction_plan(path: str, target_bytes: int = TARGET_FILE_BYTES) -> dict:
    """Small-file audit for a parquet directory, from FOOTER METADATA only
    (pyarrow driver-side — zero Spark jobs): current file count/sizes and
    the output file count a compaction should produce. The perpetual
    maintenance problem of streaming/incremental sinks: every micro-batch
    writes a file, and a 100 TB table of 1 MB files spends its scan time
    opening footers instead of reading pages.

    Returns {"n_files", "total_bytes", "small_files" (< half target),
    "target_files"}."""
    import glob as _glob

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        # hive-partitioned layouts keep files in key=value subdirs;
        # compacting those through a flat rewrite would DESTROY the
        # partitioning — refuse loudly, per-partition is the correct unit
        # (code-review r06)
        subdirs = [
            d
            for d in _glob.glob(os.path.join(path, "*"))
            if os.path.isdir(d)
        ]
        if subdirs:
            raise ValueError(
                f"compaction_plan: no top-level parquet files in {path} but "
                f"{len(subdirs)} subdirectories — a partitioned table must "
                "be compacted per partition directory"
            )
        raise ValueError(f"compaction_plan: no parquet files in {path}")
    sizes = [os.path.getsize(f) for f in files]
    # footer sanity on EVERY file (driver-side metadata reads, cheap):
    # a corrupt file must fail the audit, not a mid-job task later
    # context-managed: thousands of small files is the stated use case,
    # and unclosed handles would pile up fds until GC (ADVICE r06)
    for f in files:
        with pq.ParquetFile(f):
            pass
    total = sum(sizes)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "small_files": sum(1 for s_ in sizes if s_ < target_bytes // 2),
        "target_files": max(1, -(-total // target_bytes)),
    }
