"""Structured Streaming: batch equivalence + watermark late-data policy."""

from __future__ import annotations

from imdb_mapreduce_spark.plans.events import events_10min_windows
from imdb_mapreduce_spark.streaming.jobs import (
    read_events_stream,
    run_stream_to_memory,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def test_stream_tumbling_equals_batch(spark):
    stream = read_events_stream(spark, f"{SF}/events.parquet")
    got = {
        r["window_start"]: r["n_events"]
        for r in run_stream_to_memory(
            tumbling_counts(stream).select("window_start", "n_events"), "complete"
        ).collect()
    }
    want = {
        r["window_start"]: r["n_events"]
        for r in events_10min_windows(spark, SF).collect()
    }
    assert got == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode with a tight watermark: a window only emits once the
    watermark passes; events arriving later than the horizon are dropped —
    the documented late-data policy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Two files → two availableNow micro-batches (maxFilesPerTrigger=1):
    # batch 1 advances the watermark far ahead; batch 2 is hours late.
    d = tmp_path / "stream"
    d.mkdir()
    base = 1_700_000_000 * 1_000_000_000  # ns epoch
    hour = 3_600 * 1_000_000_000

    def write(name, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, d / name)

    write("a.parquet", [(1, base), (2, base + 10 * hour)])
    write("b.parquet", [(3, base + 1 * hour)])  # 9h late vs watermark horizon

    stream = read_events_stream(spark, str(d))
    result = tumbling_counts(stream, watermark="1 hour").select(
        "window_start", "n_events"
    )
    out = run_stream_to_memory(result, "append").collect()
    emitted_ids_total = sum(r["n_events"] for r in out)
    # Event 3 fell behind the watermark → dropped; event 2's window may
    # still be open at end-of-stream in append mode. Event 1 must be out.
    assert emitted_ids_total <= 2
    assert any(r["n_events"] == 1 for r in out)


def test_streaming_dedup_collapses_doubled_source(spark):
    """At-least-once delivery (every event twice) through
    dropDuplicatesWithinWatermark must reproduce the batch answer exactly
    — same windows, same counts, total == the undoubled event count."""
    from imdb_mapreduce_spark.streaming.jobs import streaming_dedup_10min_counts

    got = {
        r["window_start"]: r["n_events"]
        for r in streaming_dedup_10min_counts(spark, SF).collect()
    }
    want = {
        r["window_start"]: r["n_events"]
        for r in events_10min_windows(spark, SF).collect()
    }
    assert got == want
    assert sum(got.values()) == 1000
