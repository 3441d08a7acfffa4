"""applyInPandasWithState: cross-batch state must converge to the batch
answer when the stream drains."""

from __future__ import annotations

import os
import sys
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from imdb_mapreduce_spark.plans.events import (
    DISTINCT,
    QUANTILE,
    ROLLUP,
    ROLLUP_ERASABLE,
)
from imdb_mapreduce_spark.sources.star import load_table
from imdb_mapreduce_spark.streaming.jobs import read_events_stream

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def test_salted_kmv_equals_unsalted_and_breaks_key_bound(spark):
    """The salted sub-key sketch must (a) land on the IDENTICAL result as
    the unsalted operator (the KMV merge law: union of per-salt keeps ⊇
    global keep set) and (b) actually spread each event type's state
    across >1 sub-key — the structural proof the single-owner-per-key
    bound is broken (VERDICT r09 item 2)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    unsalted = {
        r["event_type"]: (r["rows_seen"], r["kth_hash"], r["m"])
        for r in qs["streaming_kmv_distinct"](spark, SF).collect()
    }
    salted = {
        r["event_type"]: (r["rows_seen"], r["kth_hash"], r["m"])
        for r in qs["streaming_kmv_distinct_salted"](spark, SF).collect()
    }
    assert salted == unsalted and len(salted) > 0

    # sub-key spread: drain the salted change-log directly and count the
    # distinct (event_type, salt) state owners per type
    from imdb_mapreduce_spark.streaming.jobs import run_stream_to_memory
    from imdb_mapreduce_spark.streaming.stateful import (
        KMV_SALTS,
        running_kmv_by_type_salted,
    )

    stream = read_events_stream(spark, f"{SF}/events.parquet")
    log = run_stream_to_memory(running_kmv_by_type_salted(stream), "update")
    per_type = {
        r["event_type"]: r["n_salts"]
        for r in log.groupBy("event_type")
        .agg(F.countDistinct("salt").alias("n_salts"))
        .collect()
    }
    # md5-uniform hashes at sf0.001 volumes fill every salt bucket
    assert per_type and all(n == KMV_SALTS for n in per_type.values()), per_type


def test_kmv_stale_state_restart_fails_typed(spark, tmp_path):
    """Operational drill for the versioned KMV state (VERDICT r09 item 6):
    restarting from a checkpoint whose state was written under a DIFFERENT
    KMV_STATE_VERSION must fail with the typed KmvStateVersionError (whose
    message names the recover-by-rebuild path), never silently merge.

    The stale state is produced by a handler that writes version
    KMV_STATE_VERSION - 1 into the same state schema (a checkpoint from an
    older code revision); the restart runs the REAL operator against that
    checkpoint with a second file delivered, forcing a state restore."""
    import os

    import pandas as pd

    from imdb_mapreduce_spark.streaming.stateful import (
        _KMV_STATE,
        KMV_STATE_SCHEMA,
        KMV_STATE_VERSION,
        running_kmv_by_type,
    )

    events = load_table(spark, "events", SF).select(
        "event_type",
        "user_id",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        )
        .cast("bigint")
        .alias("h"),
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    events.limit(200).coalesce(1).write.parquet(src)

    def stale_writer(key, batches, state):
        n = sum(len(p) for p in batches)
        state.update((KMV_STATE_VERSION - 1, [1], [1], n))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "rows_seen": [n],
                "kth_hash": [1],
                "m": [1],
            }
        )

    def drain(handler):
        from pyspark.sql.streaming.state import GroupStateTimeout

        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        result = stream.groupBy("event_type").applyInPandasWithState(
            handler,
            outputStructType=KMV_STATE_SCHEMA,
            stateStructType=_KMV_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        # noop sink: supports update mode AND checkpoint recovery (the
        # memory sink refuses to recover, by design)
        q = (
            result.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(stale_writer)

    # new data → the restarted real operator must restore the v-1 state
    extra = events.limit(50).toPandas()
    spark.createDataFrame(extra, events.schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # one extra part file appeared; restart from the SAME checkpoint
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from imdb_mapreduce_spark.streaming.stateful import _update_kmv

    with pytest.raises(Exception) as excinfo:
        drain(_update_kmv)
    msg = str(excinfo.value)
    assert "KMV streaming state version" in msg, msg[:2000]
    assert "discard the checkpoint" in msg, msg[:2000]


def test_kmv_salts_change_restart_fails_typed(spark, tmp_path):
    """The salt count is part of the checkpoint contract (it decides
    sub-key ownership of pairs): restarting a salted-KMV checkpoint with
    a DIFFERENT n_salts must fail with the typed KmvSaltsChangedError —
    silently redistributed pair universes would corrupt the merged
    sketch (trimmed global-top-k pairs; orphaned high-salt sub-keys on a
    decrease)."""
    import pytest

    from imdb_mapreduce_spark.sources.star import load_table
    from imdb_mapreduce_spark.streaming.stateful import (
        running_kmv_by_type_salted,
    )

    events = load_table(spark, "events", SF).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    events.limit(300).coalesce(1).write.parquet(src)

    def drain(n_salts):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            running_kmv_by_type_salted(stream, n_salts=n_salts)
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(8)
    # new data so the restart has a batch to run, then a different salt
    # count against the SAME checkpoint
    extra = events.limit(50).toPandas()
    spark.createDataFrame(extra, events.schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.raises(Exception) as excinfo:
        drain(4)
    msg = str(excinfo.value)
    assert "n_salts=8" in msg and "n_salts=4" in msg, msg[:2000]
    assert "discard the checkpoint" in msg, msg[:2000]


def test_kmv_salted_checkpoint_resume_green(spark, tmp_path):
    """GREEN restart drill (VERDICT r10 item 2): the failure drills above
    prove WRONG restarts die typed; this proves a RIGHT restart WORKS —
    the half of the ops story a production deployment exercises weekly.

    Partially drain a 4-file source (only 2 files present) to a file-
    backed checkpoint, stop, deliver the remaining 2 files, restart the
    SAME salted query from the SAME checkpoint, and assert the reduced
    global sketch is bit-identical to a pure-Python batch oracle over the
    full corpus. Sink is foreachBatch→parquet: the memory sink REFUSES
    checkpoint recovery by design (SCALE.md), and an update-mode stateful
    stream cannot use the append-only file sink directly.

    The per-type row-count sandwich is the resume proof: final
    sum(rows_seen over salts) == EXACT corpus total. A restart that
    discarded state would sum to only the phase-2 rows; a restart that
    re-read the phase-1 files would overshoot. Phase 1's partial sum is
    asserted too, so the drill genuinely stops mid-corpus."""
    import hashlib
    import os

    import pandas as pd

    from imdb_mapreduce_spark.plans.quality import KMV_K
    from imdb_mapreduce_spark.streaming.stateful import (
        running_kmv_by_type_salted,
    )

    pdf = (
        load_table(spark, "events", SF)
        .select("event_type", "user_id")
        .toPandas()
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    quarters = [pdf.iloc[i::4].reset_index(drop=True) for i in range(4)]

    def put_file(i: int) -> None:
        path = os.path.join(src, f"b{i}.parquet")
        quarters[i].to_parquet(path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # stable batch order

    def drain(out_dir: str) -> None:
        stream = (
            spark.readStream.schema("event_type string, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def sink(df, _epoch_id):
            df.write.mode("append").parquet(out_dir)

        q = (
            running_kmv_by_type_salted(stream, n_salts=8)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # ---- phase 1: PARTIAL drain (half the corpus), clean stop ----
    put_file(0)
    put_file(1)
    out1 = str(tmp_path / "out1")
    drain(out1)
    log1 = pd.read_parquet(out1)
    half = pd.concat(quarters[:2])
    final1 = (
        log1.sort_values("rows_seen").groupby(["event_type", "salt"]).last()
    )
    got_half = final1.groupby("event_type")["rows_seen"].sum().to_dict()
    want_half = half.groupby("event_type").size().to_dict()
    assert got_half == want_half  # genuinely mid-corpus at the stop

    # ---- phase 2: deliver the rest, restart from the SAME checkpoint ----
    put_file(2)
    put_file(3)
    out2 = str(tmp_path / "out2")
    drain(out2)
    log = pd.concat([log1, pd.read_parquet(out2)], ignore_index=True)

    # final state per sub-key = highest rows_seen emission (strictly
    # increasing per key); global sketch by the KMV merge law
    final = (
        log.sort_values("rows_seen")
        .groupby(["event_type", "salt"])
        .last()
        .reset_index()
    )
    got = {}
    for etype, grp in final.groupby("event_type"):
        pairs = sorted(
            (int(h), int(u))
            for hs, us in zip(grp["hashes"], grp["users"])
            for h, u in zip(hs, us)
        )
        keep = pairs[:KMV_K]
        got[etype] = (int(grp["rows_seen"].sum()), keep[-1][0], len(keep))

    # batch oracle, pure Python (hashlib md5 == the JVM/DuckDB fragment)
    want = {}
    for etype, grp in pdf.groupby("event_type"):
        pairs = sorted(
            (int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16), int(u))
            for u in grp["user_id"].unique()
        )
        keep = pairs[:KMV_K]
        want[etype] = (len(grp), keep[-1][0], len(keep))

    assert got == want  # bit-identical; rows_seen exact ⇒ no re-read/reset


def test_apply_state_handler_receives_bounded_chunks(spark, tmp_path):
    """The Python side of applyInPandasWithState receives a group as
    BOUNDED chunks (arrowMaxRecordsPerBatch), never one whole-group
    pdf — so the r10/r11 Arrow-wall accumulation is entirely the JVM
    channel's one-group-per-call staging (SCALING.md r11), not Python
    delivery. Pins the delivery contract the wall analysis rests on:
    if a Spark upgrade changed chunking, the SCALING claims need
    re-derivation. Measured at 2M rows/group: 200 chunks × exactly
    10,000 rows."""
    import uuid

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    n_rows = 100_000
    max_batch = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    df = spark.range(n_rows).select(
        F.lit("hot").alias("g"), F.col("id").alias("x")
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)

    out_schema = StructType(
        [
            StructField("g", StringType()),
            StructField("n_chunks", LongType()),
            StructField("max_chunk", LongType()),
            StructField("total", LongType()),
        ]
    )

    def probe(key, batches, state):
        n = mx = tot = 0
        for pdf in batches:
            n += 1
            mx = max(mx, len(pdf))
            tot += len(pdf)
        state.update((tot,))
        yield pd.DataFrame(
            {
                "g": [key[0]],
                "n_chunks": [n],
                "max_chunk": [mx],
                "total": [tot],
            }
        )

    stream = spark.readStream.schema("g string, x long").parquet(src)
    res = stream.groupBy("g").applyInPandasWithState(
        probe,
        outputStructType=out_schema,
        stateStructType="t LONG",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"chunkprobe_{uuid.uuid4().hex[:6]}"
    import tempfile

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            res.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    row = spark.table(name).collect()[0]
    assert row["total"] == n_rows
    assert row["max_chunk"] <= max_batch  # bounded delivery, never whole-group
    assert row["n_chunks"] >= n_rows // max_batch  # genuinely chunked


def test_builtin_window_agg_survives_checkpoint_restart(spark, tmp_path):
    """Completes the restart matrix: custom NoTimeout state (salted KMV
    drill), custom EventTimeTimeout state (session-timer drill), and here the
    BUILT-IN watermarked window aggregation. Three recoveries pinned:

    1. PARTIAL window counts cross the restart (windows A and B are
       mid-accumulation at the stop; their post-restart totals build on
       the recovered state, never restart from zero).
    2. The WATERMARK is restored from the commit log (the first
       post-restart batch reports phase 1's final watermark, not epoch
       zero).
    3. The one-sided watermark contract, as MEASURED on this engine
       (4.1.2): in update mode a late row arriving after its window's
       state was evicted RE-OPENS the window as a fresh emission — the
       late-drop is best-effort, not guaranteed (Spark's documented
       one-sided semantics). Pinned so an engine upgrade that changes
       it is noticed: update-mode consumers must be upsert-idempotent
       per window; append mode / the complete-mode batch-parity queries
       are the finalized-window contracts.
    """
    import os

    import pandas as pd

    from imdb_mapreduce_spark.streaming.jobs import tumbling_counts

    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    # window A = [00:00, 00:10), window B = [00:10, 00:20)
    batches = {
        0: [(1, t0 + 1 * m), (2, t0 + 2 * m)],   # A: 2 rows
        1: [(3, t0 + 11 * m)],                    # B opens: 1 row
        # restart boundary: A and B both have OPEN partial state
        2: [(4, t0 + 3 * m), (5, t0 + 12 * m)],  # +1 to A, +1 to B
        3: [(6, t0 + 200 * m)],                   # watermark → 02:20
        4: [(7, t0 + 4 * m)],                     # post-eviction late row
    }

    def put_file(i: int) -> None:
        pdf = pd.DataFrame(batches[i], columns=["user_id", "ts"])
        path = os.path.join(src, f"b{i}.parquet")
        pdf.to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    def drain(out_dir: str) -> list[str]:
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def sink(df, epoch_id):
            df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            tumbling_counts(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [
            p["eventTime"].get("watermark")
            for p in q.recentProgress
            if p.get("eventTime")
        ]

    put_file(0)
    put_file(1)
    out1 = str(tmp_path / "out1")
    wms1 = drain(out1)
    log1 = pd.read_parquet(out1)
    partial = log1.sort_values("n_events").groupby("window_start").last()
    # stopped with both windows PARTIAL — a genuinely mid-window restart
    assert partial["n_events"].to_dict() == {t0: 2, t0 + 10 * m: 1}

    put_file(2)
    put_file(3)
    put_file(4)
    out2 = str(tmp_path / "out2")
    wms2 = drain(out2)
    # (2) watermark recovery: the restarted query resumes from phase 1's
    # final watermark (t0 + 11m − 1h), not from zero
    assert wms2[0] == wms1[-1] != "1970-01-01T00:00:00.000Z"

    log2 = pd.read_parquet(out2)
    # (1) partial state recovered: BEFORE the late batch, A reached
    # 2+1 = 3 and B reached 1+1 = 2 — counts built on restored state
    pre_late = log2[log2["epoch"] < log2["epoch"].max()]
    totals = pre_late.sort_values("n_events").groupby("window_start").last()
    assert totals.loc[t0, "n_events"] == 3
    assert totals.loc[t0 + 10 * m, "n_events"] == 2

    # (3) the one-sided contract, as measured: the post-eviction late row
    # re-opens window A as a fresh update-mode emission (count 4 = the
    # recovered 3 + the late row on re-created state)
    late = log2[log2["epoch"] == log2["epoch"].max()]
    reopened = late[late["window_start"] == t0]
    assert len(reopened) == 1 and reopened.iloc[0]["n_events"] == 4


def test_salted_kmv_identical_under_rocksdb_state_store(spark):
    """The 100 TB state-store backend: RocksDB (bundled rocksdbjni) keeps
    streaming state off-heap and disk-spillable — the production provider
    once per-executor state outgrows the default in-memory map. The
    salted KMV drain must produce the BIT-IDENTICAL sketch under both
    providers (state content is provider-independent; only the store
    changes). Conf is restored afterwards — the provider is read at
    query start, so the override is test-local."""
    import __spark_entry__ as entry

    qs = entry.queries()
    key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(key)
    rows_default = {
        r["event_type"]: (r["rows_seen"], r["kth_hash"], r["m"])
        for r in qs["streaming_kmv_distinct_salted"](spark, SF).collect()
    }
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rows_rocks = {
            r["event_type"]: (r["rows_seen"], r["kth_hash"], r["m"])
            for r in qs["streaming_kmv_distinct_salted"](spark, SF).collect()
        }
    finally:
        spark.conf.set(key, default)
    assert rows_rocks == rows_default and len(rows_rocks) > 0


def test_state_store_provider_is_checkpoint_pinned(spark, tmp_path):
    """Cross-provider restart safety, measured: Spark pins
    ``stateStore.providerClass`` into the checkpoint's offset-log conf
    and OVERRIDES the session value on restart (with a logged warning)
    — the same checkpoint-contract shape as the repo's own pinned
    n_salts, enforced engine-side. A deployment migrating to RocksDB
    therefore CANNOT corrupt an existing checkpoint by flipping the
    conf; it must start a fresh checkpoint (re-bootstrap), and this
    test notices if an engine upgrade weakens that pin."""
    import glob
    import json
    import os

    from imdb_mapreduce_spark.sources.star import load_table
    from imdb_mapreduce_spark.streaming.stateful import (
        running_kmv_by_type_salted,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    pdf = (
        load_table(spark, "events", SF)
        .select("event_type", "user_id")
        .toPandas()
    )
    pdf.iloc[:200].to_parquet(os.path.join(src, "b0.parquet"))
    os.utime(os.path.join(src, "b0.parquet"), (1_000_000, 1_000_000))

    def drain():
        stream = (
            spark.readStream.schema("event_type string, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            running_kmv_by_type_salted(stream, n_salts=8)
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # phase 1 under the session default (HDFSBacked)
    pinned = {}
    for f in sorted(glob.glob(os.path.join(ckpt, "offsets", "*"))):
        for line in open(f):
            if line.startswith("{"):
                pinned.update(json.loads(line).get("conf", {}))
    assert pinned.get(key, "").endswith("HDFSBackedStateStoreProvider")

    # phase 2: session says RocksDB; the checkpoint must win (engine
    # overrides back with a warning) and the restart must succeed
    pdf.iloc[200:300].to_parquet(os.path.join(src, "b1.parquet"))
    os.utime(os.path.join(src, "b1.parquet"), (1_000_001, 1_000_001))
    default = spark.conf.get(key)
    try:
        spark.conf.set(key, rocks)
        drain()  # would die in the state deserializer if the pin broke
    finally:
        spark.conf.set(key, default)


def test_checkpoint_state_is_introspectable_and_oracle_exact(spark, tmp_path):
    """Ops observability: Spark 4's state data source reads a streaming
    checkpoint's state as a BATCH DataFrame (`format("statestore")`) —
    no drain, no replay, no custom tooling. Drilled against the salted
    KMV checkpoint: every stored row must carry the checkpoint contract
    fields (state version, pinned n_salts), and the global sketch
    recomputed FROM THE STORED STATE ALONE must equal the pure-Python
    batch oracle — the state on disk IS the sketch, directly auditable
    offline. This is the runbook tool for a stuck production stream:
    inspect per-sub-key state sizes and contents without touching the
    running query."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from imdb_mapreduce_spark.plans.quality import KMV_K
    from imdb_mapreduce_spark.sources.star import load_table
    from imdb_mapreduce_spark.streaming.stateful import (
        KMV_STATE_VERSION,
        running_kmv_by_type_salted,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    pdf = (
        load_table(spark, "events", SF)
        .select("event_type", "user_id")
        .toPandas()
    )
    pdf.to_parquet(os.path.join(src, "b0.parquet"))

    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_kmv_by_type_salted(stream, n_salts=8)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    state = (
        spark.read.format("statestore")
        .load(ckpt)
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("key.salt").alias("salt"),
            # applyInPandasWithState wraps the user state one level down
            F.col("value.groupState.*"),
        )
        .toPandas()
    )
    # one state row per (type, salt); contract fields on every row
    assert len(state) == state.groupby(["event_type", "salt"]).ngroups
    assert (state["v"] == KMV_STATE_VERSION).all()
    assert (state["n_salts"] == 8).all()

    # global sketch recomputed from the STORED state = the batch oracle
    got = {}
    for etype, grp in state.groupby("event_type"):
        pairs = sorted(
            (int(h), int(u))
            for hs, us in zip(grp["hashes"], grp["users"])
            for h, u in zip(hs, us)
        )
        keep = pairs[:KMV_K]
        got[etype] = (int(grp["rows_seen"].sum()), keep[-1][0], len(keep))
    want = {}
    for etype, grp in pdf.groupby("event_type"):
        pairs = sorted(
            (int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16), int(u))
            for u in grp["user_id"].unique()
        )
        keep = pairs[:KMV_K]
        want[etype] = (len(grp), keep[-1][0], len(keep))
    assert got == want


# --- incremental multi-resolution rollup maintenance (r13) -----------------


def _multires_state_schema():
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("bucket", TimestampType()),
            StructField("event_type", StringType()),
            StructField("n_events", LongType()),
            StructField("s", DecimalType(38, 2)),
        ]
    )


def test_multires_merge_recomputes_touched_buckets_only(spark):
    """The incremental-refresh contract: an hour the batch does NOT touch
    is CARRIED, never re-derived — proven by planting a poisoned hour row
    whose value disagrees with its own minute tier: re-derivation would
    'heal' it, carry preserves it verbatim. The touched hour must be
    re-derived from the new minute tier (batch delta included)."""
    from decimal import Decimal

    import pandas as pd

    from imdb_mapreduce_spark.streaming.jobs import merge_batch

    h1 = pd.Timestamp("2026-01-01 10:00:00")
    h2 = pd.Timestamp("2026-01-01 11:00:00")
    mk = lambda rows: spark.createDataFrame(
        [(b.to_pydatetime(), *rest) for b, *rest in rows],
        _multires_state_schema(),
    )
    prev = {
        "minute": mk(
            [
                (h1 + pd.Timedelta(minutes=1), "click", 2, Decimal("10.00")),
                (h2 + pd.Timedelta(minutes=5), "click", 3, Decimal("30.00")),
            ]
        ),
        "hour": mk(
            [
                (h1, "click", 2, Decimal("10.00")),
                (h2, "click", 999, Decimal("999.99")),  # poisoned
            ]
        ),
        "day": mk(
            [(pd.Timestamp("2026-01-01"), "click", 1001, Decimal("1009.99"))]
        ),
    }
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": [h1 + pd.Timedelta(minutes=1, seconds=30)],
                "event_type": ["click"],
                "value": [5.0],
            }
        )
    )
    new = merge_batch(ROLLUP, batch, prev)
    hour = {
        (r["bucket"], r["event_type"]): (r["n_events"], float(r["s"]))
        for r in new["hour"].collect()
    }
    # untouched hour: poisoned row carried VERBATIM (would be 3/30.00 if
    # re-derived from its minute tier)
    assert hour[(h2, "click")] == (999, 999.99)
    # touched hour: re-derived from the merged minute tier (2+1 events)
    assert hour[(h1, "click")] == (3, 15.0)
    minute = {
        r["bucket"]: (r["n_events"], float(r["s"]))
        for r in new["minute"].collect()
    }
    assert minute[h1 + pd.Timedelta(minutes=1)] == (3, 15.0)  # additive
    assert minute[h2 + pd.Timedelta(minutes=5)] == (3, 30.0)  # carried
    # day: 2026-01-01 is touched → re-derived from the new MINUTE tier
    # (r15 opt: both coarse tiers derive from minute so their
    # materializer actions are independent — merge_batch). The
    # poisoned hour row therefore does NOT propagate: the re-derived
    # day sums the day's minute rows (3 + 3 events). On CONSISTENT
    # state the two derivations are identical by the associative merge
    # law; this planted-inconsistency probe is what distinguishes them,
    # pinning minute as the re-derivation source of truth.
    day = {r["bucket"]: r["n_events"] for r in new["day"].collect()}
    assert day[pd.Timestamp("2026-01-01")] == 3 + 3


def _poisoned_fold_case(spark, spec):
    """(prev, batch) for the planted-inconsistency fold drills: prev
    holds a minute row in hours h1 and h2 and a POISONED h2 hour row
    that disagrees with its own minute tier; the batch touches h1 only.
    The additive case is written out; a sketch class folds the same
    geometry from raw rows and plants an h2 hour row built from
    unrelated users."""
    from decimal import Decimal

    import pandas as pd

    from imdb_mapreduce_spark.streaming.jobs import merge_batch

    h1 = pd.Timestamp("2026-01-01 10:00:00")
    h2 = pd.Timestamp("2026-01-01 11:00:00")
    if spec is ROLLUP:
        mk = lambda rows: spark.createDataFrame(
            [(b.to_pydatetime(), *rest) for b, *rest in rows],
            _multires_state_schema(),
        )
        prev = {
            "minute": mk(
                [
                    (h1 + pd.Timedelta(minutes=1), "click", 2, Decimal("10.00")),
                    (h2 + pd.Timedelta(minutes=5), "click", 3, Decimal("30.00")),
                ]
            ),
            "hour": mk(
                [
                    (h1, "click", 2, Decimal("10.00")),
                    (h2, "click", 999, Decimal("999.99")),  # poisoned
                ]
            ),
            "day": mk(
                [(pd.Timestamp("2026-01-01"), "click", 1001, Decimal("1009.99"))]
            ),
        }
        batch = spark.createDataFrame(
            pd.DataFrame(
                {
                    "ts": [h1 + pd.Timedelta(minutes=1, seconds=30)],
                    "event_type": ["click"],
                    "value": [5.0],
                }
            )
        )
        return prev, batch
    cols = ["ts", "event_id", "user_id", "value"]

    def raw(rows):
        return spark.createDataFrame(pd.DataFrame(rows, columns=cols))

    m1, m5 = pd.Timedelta(minutes=1), pd.Timedelta(minutes=5)
    prev = {
        t: df.localCheckpoint(eager=True)
        for t, df in merge_batch(
            spec,
            raw([(h1 + m1, 1, 1, 2.0), (h1 + m1, 2, 2, 8.0),
                 (h2 + m5, 3, 3, 30.0)]),
            None,
        ).items()
    }
    poison = merge_batch(
        spec, raw([(h2 + m5, 90, 90, 999.0), (h2 + m5, 91, 91, 1.0)]), None
    )["hour"]
    prev["hour"] = (
        prev["hour"].filter(F.col("bucket") != F.lit(h2.to_pydatetime()))
        .unionByName(poison)
        .localCheckpoint(eager=True)
    )
    batch = raw([(h1 + pd.Timedelta(minutes=1, seconds=30), 4, 4, 5.0)])
    return prev, batch


@pytest.mark.parametrize(
    "spec", [ROLLUP, DISTINCT, QUANTILE], ids=lambda spec: spec.name
)
def test_multires_materialized_fold_matches_lazy(spark, spec):
    """r15 opt round 2: on the MATERIALIZED path the coarse tiers derive
    from prev_minute ∪ batch partials (so the three tier writes run
    concurrently) instead of from the new minute tier; by the
    associative merge law merge_up(cold ∪ merge(hot ∪ mb)) ==
    merge_up(cold ∪ hot ∪ mb) the two derivations agree on ANY minute
    state — including the planted-inconsistency geometry above, where
    minute data and the poisoned hour row disagree. Pin it: the
    materialized fold must match the lazy merge tier for tier, row for
    row (and both must still derive coarse tiers from MINUTE data, i.e.
    ignore the poisoned hour row) — for each of the three aggregate
    classes."""
    from imdb_mapreduce_spark.streaming.jobs import merge_batch

    prev, batch = _poisoned_fold_case(spark, spec)
    lazy = merge_batch(spec, batch, prev)
    mat = merge_batch(
        spec,
        batch,
        prev,
        materialize=lambda _n, df: df.localCheckpoint(eager=True),
    )
    for tier in ("minute", "hour", "day"):
        a = sorted(map(tuple, lazy[tier].collect()))
        b = sorted(map(tuple, mat[tier].collect()))
        assert a == b, tier


def test_multires_incremental_restart_drill(spark, tmp_path):
    """Restart-matrix drill for the incremental rollup: drain two files,
    stop (availableNow exhausts the source), deliver two more files,
    restart from the SAME checkpoint/state — batch numbering and state
    resume; the final three-tier state equals the direct single-pass
    derivation over ALL data. A third drain with nothing new must be a
    no-op (idempotent under redundant restarts)."""
    import os

    import pandas as pd

    from imdb_mapreduce_spark.streaming.jobs import (
        incremental_multires_drain,
        merge_batch,
    )

    t0 = pd.Timestamp("2026-03-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    batches = {
        0: [(t0 + 1 * m, "click", 1.25), (t0 + 2 * m, "view", 2.50)],
        1: [(t0 + 61 * m, "click", 4.00), (t0 + 1 * m, "click", 0.75)],
        2: [(t0 + pd.Timedelta(days=1), "view", 8.00)],
        3: [(t0 + 62 * m, "click", 1.00), (t0 + 2 * m, "view", 0.25)],
    }
    src = str(tmp_path / "src")
    os.makedirs(src)

    def put_file(i: int) -> None:
        pdf = pd.DataFrame(batches[i], columns=["ts", "event_type", "value"])
        path = os.path.join(src, f"b{i}.parquet")
        pdf.to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    schema = "ts timestamp, event_type string, value double"
    state_root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def snap(state):
        return {
            tier: sorted(
                (r["bucket"], r["event_type"], r["n_events"], float(r["s"]))
                for r in state[tier].collect()
            )
            for tier in ("minute", "hour", "day")
        }

    put_file(0)
    put_file(1)
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
    phase1 = incremental_multires_drain(spark, src, st, state_root, ckpt)
    assert phase1 is not None
    put_file(2)
    put_file(3)
    phase2 = incremental_multires_drain(spark, src, st, state_root, ckpt)
    got = snap(phase2)
    # versions continued across the restart (4 committed batches: v0..v3)
    assert os.path.exists(os.path.join(state_root, "v3", "_COMMIT"))
    # direct single-pass derivation over ALL rows (prev=None merge IS the
    # batch cascade) — incremental-across-restart must land exactly on it
    all_rows = [r for b in batches.values() for r in b]
    direct = merge_batch(
        ROLLUP,
        spark.createDataFrame(
            pd.DataFrame(all_rows, columns=["ts", "event_type", "value"])
        ),
        None,
    )
    assert got == snap(direct)
    # redundant restart: nothing new to process → state unchanged
    phase3 = incremental_multires_drain(spark, src, st, state_root, ckpt)
    assert snap(phase3) == got


def test_multires_drain_auto_compaction_restart_drill(spark, tmp_path):
    """Restart drill across an AUTO-COMPACTION boundary (r16, VERDICT r15
    item 3): with ``compact_every=2`` the drain compacts v2 mid-run; the
    drill then simulates a crash mid-compaction of v3 (journaled,
    ``_COMMIT`` removed, ``{tier}__compact`` copies staged — the state a
    kill between swap steps leaves) and restarts with two more files. The
    next batch must SELF-HEAL the journaled predecessor (finish the swap,
    re-commit) instead of failing the out-of-sync check, and the final
    state must equal the direct single-pass derivation over ALL rows —
    compaction is layout-only by construction, and this pins it across
    the restart path."""
    import os
    import shutil

    import pandas as pd

    from imdb_mapreduce_spark.streaming.jobs import (
        incremental_multires_drain,
        merge_batch,
    )

    t0 = pd.Timestamp("2026-03-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    batches = {
        0: [(t0 + 1 * m, "click", 1.25), (t0 + 2 * m, "view", 2.50)],
        1: [(t0 + 61 * m, "click", 4.00), (t0 + 1 * m, "click", 0.75)],
        2: [(t0 + pd.Timedelta(days=1), "view", 8.00)],
        3: [(t0 + 62 * m, "click", 1.00), (t0 + 2 * m, "view", 0.25)],
        4: [(t0 + 3 * m, "view", 5.00)],
        5: [(t0 + 63 * m, "click", 2.00), (t0 + 1 * m, "view", 0.50)],
    }
    src = str(tmp_path / "src")
    os.makedirs(src)

    def put_file(i: int) -> None:
        pdf = pd.DataFrame(batches[i], columns=["ts", "event_type", "value"])
        path = os.path.join(src, f"b{i}.parquet")
        pdf.to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string("ts timestamp, event_type string, value double")
    state_root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def snap(state):
        return {
            tier: sorted(
                (r["bucket"], r["event_type"], r["n_events"], float(r["s"]))
                for r in state[tier].collect()
            )
            for tier in ("minute", "hour", "day")
        }

    for i in range(4):
        put_file(i)
    phase1 = incremental_multires_drain(
        spark, src, st, state_root, ckpt, compact_every=2
    )
    assert phase1 is not None
    # v2 crossed the cadence: compacted in-run, still committed + servable
    assert os.path.exists(os.path.join(state_root, "v2", "_COMMIT"))
    assert not os.path.exists(os.path.join(state_root, "v2", "_COMPACTING"))
    # simulate a crash between compaction swap steps on the LATEST version:
    # journal written, _COMMIT gone, compacted copies staged beside the
    # original tiers (exactly compact_state_version's step-2 state)
    v3 = os.path.join(state_root, "v3")
    for tier in ("minute", "hour", "day"):
        shutil.copytree(
            os.path.join(v3, tier), os.path.join(v3, f"{tier}__compact")
        )
    with open(os.path.join(v3, "_COMPACTING"), "w") as f:
        f.write("ok\n")
    os.remove(os.path.join(v3, "_COMMIT"))
    put_file(4)
    put_file(5)
    phase2 = incremental_multires_drain(
        spark, src, st, state_root, ckpt, compact_every=2
    )
    # the journaled predecessor was healed (swap finished, re-committed)
    assert os.path.exists(os.path.join(v3, "_COMMIT"))
    assert not os.path.exists(os.path.join(v3, "_COMPACTING"))
    assert not os.path.exists(os.path.join(v3, "minute__compact"))
    # batch 4 crossed the cadence again mid-phase-2 (v4 % 2 == 0)
    assert os.path.exists(os.path.join(state_root, "v4", "_COMMIT"))
    all_rows = [r for b in batches.values() for r in b]
    direct = merge_batch(
        ROLLUP,
        spark.createDataFrame(
            pd.DataFrame(all_rows, columns=["ts", "event_type", "value"])
        ),
        None,
    )
    assert snap(phase2) == snap(direct)


def test_erasure_fold_restart_drill(spark, tmp_path):
    """Restart-matrix drill for the r15 erase-then-resume boundary
    (VERDICT r14 item 3): drain two files into versioned additive state,
    fold an erasure as its OWN version (v2), deliver two more files and
    resume the SAME checkpoint shifted by ``version_offset=1`` — final
    state must equal the direct derivation over all remaining rows.
    Then the two replay legs the exactly-once contract promises:

    1. REPLAY THE ERASURE (crash after v2 committed but before its
       effect was consumed → the fold re-runs): rewriting v2 from the
       unchanged v1 must be byte-idempotent.
    2. REDUNDANT RESUME (restart with nothing new): state unchanged.
    """
    import os

    import pandas as pd

    from imdb_mapreduce_spark.plans.events import _erased_col
    from imdb_mapreduce_spark.streaming.jobs import (
        erasure_fold_merge,
        incremental_multires_drain,
        latest_committed_state,
        merge_batch,
        multires_fold_version,
    )

    t0 = pd.Timestamp("2026-03-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    # user 3 and 10 are erased (uid % 7 == 3); user 10 also sends rows
    # AFTER the erasure (batch 2) — suppression must drop them
    batches = {
        0: [(t0 + 1 * m, "click", 1.25, 1), (t0 + 1 * m, "click", 2.50, 3)],
        1: [(t0 + 61 * m, "click", 4.00, 10), (t0 + 2 * m, "view", 0.75, 2)],
        2: [(t0 + pd.Timedelta(days=1), "view", 8.00, 10),
            (t0 + 61 * m, "click", 0.50, 1)],
        3: [(t0 + 62 * m, "click", 1.00, 2), (t0 + 2 * m, "view", 0.25, 3)],
    }
    cols = ["ts", "event_type", "value", "user_id"]
    src = str(tmp_path / "src")
    os.makedirs(src)

    def put_file(i: int) -> None:
        path = os.path.join(src, f"b{i}.parquet")
        pd.DataFrame(batches[i], columns=cols).to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(
        "ts timestamp, event_type string, value double, user_id bigint"
    )
    state_root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def snap(state):
        return {
            tier: sorted(
                (r["bucket"], r["event_type"], r["n_events"], float(r["s"]))
                for r in state[tier].collect()
            )
            for tier in ("minute", "hour", "day")
        }

    put_file(0)
    put_file(1)
    incremental_multires_drain(
        spark, src, st, state_root, ckpt, ROLLUP_ERASABLE
    )
    latest = latest_committed_state(spark, state_root)
    assert latest is not None and latest[0] == 1  # v0, v1 committed
    seen = spark.read.parquet(src)

    def erase(mat):
        return erasure_fold_merge(ROLLUP_ERASABLE, seen, latest[1], mat)

    erased_state = multires_fold_version(spark, state_root, 2, erase)
    erased_snap = snap(erased_state)
    # replay leg 1: the erasure version re-runs from its unchanged
    # predecessor — must be byte-idempotent
    replayed = multires_fold_version(spark, state_root, 2, erase)
    assert snap(replayed) == erased_snap
    # resume: two more files, same checkpoint, versions shifted by 1
    put_file(2)
    put_file(3)
    final = incremental_multires_drain(
        spark, src, st, state_root, ckpt, ROLLUP_ERASABLE,
        suppress=_erased_col(), version_offset=1,
    )
    assert os.path.exists(os.path.join(state_root, "v4", "_COMMIT"))
    got = snap(final)
    # direct single-pass derivation over all REMAINING rows
    all_rows = [r for b in batches.values() for r in b]
    remaining = spark.createDataFrame(
        pd.DataFrame(all_rows, columns=cols)
    ).filter(~_erased_col())
    assert got == snap(merge_batch(ROLLUP_ERASABLE, remaining, None))
    # replay leg 2: redundant resume with nothing new → unchanged
    again = incremental_multires_drain(
        spark, src, st, state_root, ckpt, ROLLUP_ERASABLE,
        suppress=_erased_col(), version_offset=1,
    )
    assert snap(again) == got


def test_erase_versioned_history_purges_every_as_of_read(spark, tmp_path):
    """Time travel × right-to-be-forgotten (r15): after
    `erase_versioned_history`, EVERY ``VERSION AS OF`` read under the
    purged root must equal the direct derivation over the REMAINING
    rows of that version's batch prefix — deletion reaches history, not
    just the latest state. Also pins: versions before the first erased
    row carry byte-equal (nothing to subtract), and the purge is
    idempotent (a second run to a fresh root lands on identical
    snapshots — the rewrite always derives from the unchanged source
    root, never in place)."""
    import os

    import pandas as pd

    from imdb_mapreduce_spark.plans.events import _erased_col
    from imdb_mapreduce_spark.streaming.jobs import (
        erase_versioned_history,
        incremental_multires_drain,
        merge_batch,
        state_as_of,
    )

    t0 = pd.Timestamp("2026-03-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    # batch 0 has NO erased users (uid % 7 != 3) — its purged version
    # must be a byte-equal carry; users 3 and 10 are erased later
    batches = {
        0: [(t0 + 1 * m, "click", 1.25, 1), (t0 + 2 * m, "view", 0.75, 2)],
        1: [(t0 + 1 * m, "click", 2.50, 3), (t0 + 61 * m, "click", 4.00, 10)],
        2: [(t0 + pd.Timedelta(days=1), "view", 8.00, 10),
            (t0 + 61 * m, "click", 0.50, 1)],
        3: [(t0 + 62 * m, "click", 1.00, 2), (t0 + 2 * m, "view", 0.25, 3)],
    }
    cols = ["ts", "event_type", "value", "user_id"]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in batches.items():
        path = os.path.join(src, f"b{i}.parquet")
        pd.DataFrame(rows, columns=cols).to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(
        "ts timestamp, event_type string, value double, user_id bigint"
    )
    state_root = str(tmp_path / "state")
    incremental_multires_drain(
        spark, src, st, state_root, str(tmp_path / "ckpt"),
        ROLLUP_ERASABLE,
    )
    bdfs = [
        spark.createDataFrame(pd.DataFrame(batches[i], columns=cols))
        for i in range(4)
    ]
    purged_root = str(tmp_path / "purged")
    assert erase_versioned_history(
        spark, state_root, purged_root, bdfs, _erased_col(), ROLLUP_ERASABLE
    ) == [0, 1, 2, 3]

    def snap(state):
        return {
            tier: sorted(
                (r["bucket"], r["event_type"], r["n_events"], float(r["s"]))
                for r in state[tier].collect()
            )
            for tier in ("minute", "hour", "day")
        }

    for k in range(4):
        prefix = [r for i in range(k + 1) for r in batches[i]]
        direct = merge_batch(
            ROLLUP_ERASABLE,
            spark.createDataFrame(pd.DataFrame(prefix, columns=cols)).filter(
                ~_erased_col()
            ),
            None,
        )
        assert snap(state_as_of(spark, purged_root, k)) == snap(direct), k
    # v0 saw no erased rows → byte-equal carry of the source tier files
    for tier in ("minute", "hour", "day"):
        a = os.path.join(state_root, "v0", tier)
        b = os.path.join(purged_root, "v0", tier)
        assert sorted(os.listdir(a)) == sorted(os.listdir(b))
        for f in os.listdir(a):
            if f.endswith(".parquet"):
                assert (
                    open(os.path.join(a, f), "rb").read()
                    == open(os.path.join(b, f), "rb").read()
                )
    # idempotent: a second purge from the unchanged source root lands
    # on identical snapshots
    again_root = str(tmp_path / "purged2")
    erase_versioned_history(
        spark, state_root, again_root, bdfs, _erased_col(), ROLLUP_ERASABLE
    )
    for k in range(4):
        assert snap(state_as_of(spark, again_root, k)) == snap(
            state_as_of(spark, purged_root, k)
        ), k


def test_erase_versioned_history_sketch_purges_every_as_of_read(
    spark, tmp_path
):
    """The sketch family's history purge: after
    `erase_versioned_history` over the KMV spec, every as-of read under
    the purged root must equal the DIRECT sketch cascade over the
    remaining rows of that version's batch prefix (KMV has no inverse —
    touched minutes re-derive from prefix raw under the membership
    trigger);
    versions before the first erased row carry byte-equal."""
    import os

    import pandas as pd

    from imdb_mapreduce_spark.plans.events import (
        _erased_col,
        kmv_k_smallest,
        kmv_merge_up,
        kmv_minute_pairs,
    )
    from imdb_mapreduce_spark.streaming.jobs import (
        erase_versioned_history,
        incremental_multires_drain,
        state_as_of,
    )

    t0 = pd.Timestamp("2026-03-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    # batch 0 clean; users 3 and 10 erased later; user 10 shares a
    # minute with survivors so the membership trigger has both a hit
    # and a carry to exercise
    batches = {
        0: [(t0 + 1 * m, 1), (t0 + 2 * m, 2)],
        1: [(t0 + 1 * m, 3), (t0 + 61 * m, 10), (t0 + 61 * m, 4)],
        2: [(t0 + pd.Timedelta(days=1), 10), (t0 + 61 * m, 1)],
        3: [(t0 + 62 * m, 2), (t0 + 2 * m, 3)],
    }
    cols = ["ts", "user_id"]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in batches.items():
        path = os.path.join(src, f"b{i}.parquet")
        pd.DataFrame(rows, columns=cols).to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string("ts timestamp, user_id bigint")
    state_root = str(tmp_path / "state")
    incremental_multires_drain(
        spark, src, st, state_root, str(tmp_path / "ckpt"), DISTINCT
    )
    bdfs = [
        spark.createDataFrame(pd.DataFrame(batches[i], columns=cols))
        for i in range(4)
    ]
    purged_root = str(tmp_path / "purged")
    assert erase_versioned_history(
        spark, state_root, purged_root, bdfs, _erased_col(), DISTINCT
    ) == [0, 1, 2, 3]

    def snap(state):
        return {
            tier: sorted(
                (r["bucket"], tuple(r["hashes"]))
                for r in state[tier].collect()
            )
            for tier in ("minute", "hour", "day")
        }

    for k in range(4):
        prefix_rows = [r for i in range(k + 1) for r in batches[i]]
        remaining = spark.createDataFrame(
            pd.DataFrame(prefix_rows, columns=cols)
        ).filter(~_erased_col())
        dm = kmv_k_smallest(kmv_minute_pairs(remaining))
        direct = {
            "minute": dm,
            "hour": (dh := kmv_merge_up(dm, "hour")),
            "day": kmv_merge_up(dh, "day"),
        }
        assert snap(state_as_of(spark, purged_root, k)) == snap(direct), k
    # v0 saw no erased rows → byte-equal carry
    for tier in ("minute", "hour", "day"):
        a = os.path.join(state_root, "v0", tier)
        b = os.path.join(purged_root, "v0", tier)
        for f in os.listdir(a):
            if f.endswith(".parquet"):
                assert (
                    open(os.path.join(a, f), "rb").read()
                    == open(os.path.join(b, f), "rb").read()
                )


def test_state_as_of_rejects_uncommitted_version(spark, tmp_path):
    """`state_as_of` must fail loud on a version that never committed —
    serving a torn write (or a nonexistent version) as history would
    silently time-travel to a state that never existed. A committed
    version reads normally; history is unperturbed by later folds."""
    import os

    import pandas as pd
    import pytest

    from imdb_mapreduce_spark.streaming.jobs import (
        merge_batch,
        multires_fold_version,
        state_as_of,
    )

    root = str(tmp_path / "state")
    batch = spark.createDataFrame(
        pd.DataFrame(
            [(pd.Timestamp("2026-03-01 00:01:00"), "click", 1.0)],
            columns=["ts", "event_type", "value"],
        )
    )
    multires_fold_version(
        spark, root, 0, lambda mat: merge_batch(ROLLUP, batch, None, mat)
    )
    snap0 = sorted(
        (r["bucket"], r["event_type"], r["n_events"])
        for r in state_as_of(spark, root, 0)["minute"].collect()
    )
    assert snap0
    with pytest.raises(ValueError, match="never committed"):
        state_as_of(spark, root, 1)
    # a torn write (dir present, no _COMMIT) is equally rejected
    os.makedirs(os.path.join(root, "v1", "minute"), exist_ok=True)
    with pytest.raises(ValueError, match="never committed"):
        state_as_of(spark, root, 1)
    # folding a later batch never mutates committed history
    v0 = state_as_of(spark, root, 0)
    multires_fold_version(
        spark, root, 1, lambda mat: merge_batch(ROLLUP, batch, v0, mat)
    )
    assert snap0 == sorted(
        (r["bucket"], r["event_type"], r["n_events"])
        for r in state_as_of(spark, root, 0)["minute"].collect()
    )


# --- event-time timeouts: session-timeout emission (r13) -------------------


def test_session_timers_fire_across_restart(spark, tmp_path):
    """Restart-matrix drill for the event-time timeout path: drain two
    batches, stop, deliver more files + the watermark-advancing
    sentinel, restart from the SAME checkpoint. Pins the three claims
    the registered query's hash match cannot isolate:

    1. A user who goes QUIET (events only in batch 0, nothing after) is
       emitted by the TIMEOUT path alone — the gap path never sees a
       next event for that key, so this session appearing at all proves
       the ``hasTimedOut`` call fired off watermark progress, with the
       armed timeout having SURVIVED the checkpoint restart.
    2. A session extended across the restart boundary emits ONCE with
       the merged count (state recovery + re-arm: the timeout set
       pre-restart for the shorter session is replaced, not fired).
    3. No session is emitted twice (exactly-once across both paths).
    """
    import os

    import pandas as pd

    from imdb_mapreduce_spark.streaming.stateful import (
        SESSION_GAP_US,
        sessions_by_timeout,
    )

    t0 = pd.Timestamp("2026-05-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    g = pd.Timedelta(microseconds=SESSION_GAP_US)
    batches = {
        # user 1: QUIET after batch 0 — closeable only by timeout
        # user 2: session A starts here...
        0: [(1, t0), (1, t0 + m), (2, t0 + 2 * m)],
        # ...extends ACROSS the restart boundary (gap not exceeded)
        1: [(2, t0 + 10 * m)],
        # user 2's next event exceeds the gap → session A closes via
        # gap path; session B opens
        2: [(2, t0 + 10 * m + g + 2 * m)],
        # sentinel: far-future watermark advance fires remaining timeouts
        3: [(99, t0 + pd.Timedelta(days=30))],
    }
    src = str(tmp_path / "src")
    os.makedirs(src)

    def put_file(i: int) -> None:
        pdf = pd.DataFrame(batches[i], columns=["user_id", "ts"])
        path = os.path.join(src, f"b{i}.parquet")
        pdf.to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain() -> None:
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def sink(df, _id):
            df.write.mode("append").parquet(out)

        q = (
            sessions_by_timeout(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    put_file(0)
    put_file(1)
    drain()
    put_file(2)
    put_file(3)
    drain()  # restart: state + timeouts recovered from the checkpoint

    got = {
        (r["user_id"], r["session_no"]): (
            r["start_us"],
            r["end_us"],
            r["n_events"],
        )
        for r in spark.read.parquet(out).filter("user_id < 99").collect()
    }
    rows = spark.read.parquet(out).filter("user_id < 99").count()
    assert rows == len(got), "a session was emitted more than once"
    us = lambda t: int(t.value // 1_000)
    assert got[(1, 1)] == (us(t0), us(t0 + m), 2)  # timeout-only closure
    # cross-restart extension: ONE session, merged count 2
    assert got[(2, 1)] == (us(t0 + 2 * m), us(t0 + 10 * m), 2)
    # session B: closed by the sentinel-driven timeout in the second drain
    b_start = t0 + 10 * m + g + 2 * m
    assert got[(2, 2)] == (us(b_start), us(b_start), 1)
    assert set(got) == {(1, 1), (2, 1), (2, 2)}


def test_session_state_and_timers_introspectable_offline(spark, tmp_path):
    """Ops observability for the session-timeout operator — parity with
    the apply* state-source drill above: Spark 4's state data source
    reads the checkpoint's session state (``value.groupState``) AND its
    armed timeout (``value.timeoutTimestamp``) as a batch DataFrame.
    Pins the runbook invariant connecting them: every open session on
    disk has exactly one armed timeout, at precisely the update
    function's close-time of that session's own end
    ((end_us + gap + 999) // 1000 + 1) — so "which keys fire when" is
    auditable offline, without draining or replaying the stream."""
    import os

    import pandas as pd

    from imdb_mapreduce_spark.streaming.stateful import (
        SESSION_GAP_US,
        sessions_by_timeout,
    )

    t0 = pd.Timestamp("2026-05-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = pd.DataFrame(
        {"user_id": [1, 1, 2], "ts": [t0, t0 + m, t0 + 2 * m]}
    )
    pdf.to_parquet(
        os.path.join(src, "b0.parquet"),
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessions_by_timeout(stream)
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = (
        spark.read.format("statestore")
        .load(ckpt)
        .select("key.user_id", "value.groupState.*", "value.timeoutTimestamp")
        .collect()
    )
    state = {
        r["user_id"]: (r["session_no"], r["start_us"], r["end_us"], r["n_events"])
        for r in rows
    }
    us = lambda t: int(t.value // 1_000)
    assert state == {
        1: (1, us(t0), us(t0 + m), 2),
        2: (1, us(t0 + 2 * m), us(t0 + 2 * m), 1),
    }
    timers = {r["user_id"]: r["timeoutTimestamp"] for r in rows}
    close_ms = lambda end_us: (end_us + SESSION_GAP_US + 999) // 1000 + 1
    assert timers == {
        uid: close_ms(end) for uid, (_sno, _s, end, _n) in state.items()
    }


def test_session_numbering_survives_timer_closure(spark, tmp_path):
    """r13 review catch: a user whose session is closed BY TIMEOUT and
    who then RETURNS must continue session numbering (1, then 2) — state
    wiped wholesale on timeout would restart the counter at 1 and break
    the oracle's cumulative numbering. The geometry the 3-SF gates
    rarely produce: the return lands two batches after the closing
    watermark advance, so the gap path cannot renumber for the timeout."""
    import os

    import pandas as pd

    from imdb_mapreduce_spark.streaming.stateful import sessions_by_timeout

    t0 = pd.Timestamp("2026-06-01 00:00:00")
    h = pd.Timedelta(hours=1)
    batches = {
        0: [(7, t0)],                 # user 7's first session
        1: [(8, t0 + 5 * h)],         # other user: watermark passes 7's
                                      # close time -> timeout closes it
        2: [(8, t0 + 10 * h)],        # watermark moves again; 7 still out
        3: [(7, t0 + 20 * h)],        # 7 RETURNS: must be session_no 2
        4: [(9, t0 + 60 * h)],        # flush: closes the open tails
    }
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in batches.items():
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        path = os.path.join(src, f"b{i}.parquet")
        pdf.to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def sink(df, _id):
        df.write.mode("append").parquet(out)

    q = (
        sessions_by_timeout(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["session_no"])
        for r in spark.read.parquet(out).filter("user_id = 7").collect()
    )
    assert got == [(7, 1), (7, 2)], got


# (column names, batch 1 rows, batch 2 rows) per aggregate class for the
# NULL-bucket drill: a real bucket beside NULL-ts rows in both batches.
_NULL_TS_BATCHES = {
    "rollup": (
        ["ts", "event_type", "value"],
        [("t0", "click", 1.0), (None, "click", 2.0)],
        [(None, "click", 3.0)],
    ),
    "distinct": (
        ["ts", "user_id"],
        [("t0", 1), (None, 2)],
        [(None, 3), (None, 2)],  # 2 again: dedup across batches
    ),
    "quantile": (
        ["ts", "event_id", "user_id", "value"],
        [("t0", 1, 1, 1.0), (None, 2, 2, 2.0)],
        [(None, 3, 3, 3.0), (None, 4, 2, 4.0)],
    ),
}


@pytest.mark.parametrize(
    "spec", [ROLLUP, DISTINCT, QUANTILE], ids=lambda spec: spec.name
)
def test_multires_merge_null_ts_is_an_ordinary_group(spark, spec):
    """r13 review catch: date_trunc of a NULL ts is a NULL bucket, which
    the oracle's GROUP BY keeps as an ordinary group — the touched-set
    joins must therefore be NULL-SAFE. Plain equality would duplicate
    the NULL row in the minute tier (anti-join keeps prev's copy while
    the batch partial merges separately) and drop it from the re-derived
    hour/day tiers. Drilled for each aggregate class (testdata carries
    no NULL ts, so only this drill exercises the geometry)."""
    import pandas as pd

    from imdb_mapreduce_spark.streaming.jobs import merge_batch

    t0 = pd.Timestamp("2026-01-01 10:00:30")
    cols, rows1, rows2 = _NULL_TS_BATCHES[spec.name]

    def batch(rows):
        return spark.createDataFrame(
            pd.DataFrame(
                [(t0 if ts == "t0" else pd.NaT, *rest) for ts, *rest in rows],
                columns=cols,
            )
        )

    v1 = merge_batch(spec, batch(rows1), None)
    v2 = merge_batch(spec, batch(rows2), v1)

    for tier in ("minute", "hour", "day"):
        # one NULL-bucket ROW: the per-class dicts below key by bucket,
        # which would hide a duplicated NULL row
        n_null = sum(r["bucket"] is None for r in v2[tier].collect())
        assert n_null == 1, (tier, n_null)
        if spec is ROLLUP:
            rows = {
                (r["bucket"], r["event_type"]): (r["n_events"], float(r["s"]))
                for r in v2[tier].collect()
            }
            null_rows = [k for k in rows if k[0] is None]
            assert len(null_rows) == 1, (tier, rows)
            # both NULL-ts events merged into the single NULL group
            assert rows[(None, "click")] == (2, 5.0), (tier, rows)
            # the real bucket survived alongside
            assert any(k[0] is not None for k in rows), (tier, rows)
        elif spec is DISTINCT:
            rows = {r["bucket"]: list(r["hashes"]) for r in v2[tier].collect()}
            null_keys = [k for k in rows if k is None]
            assert len(null_keys) == 1, (tier, rows)
            # users {2, 3} merged into the single NULL group, exactly once each
            assert len(rows[None]) == 2, (tier, rows)
            # the real bucket survived alongside with user 1
            real = [v for k, v in rows.items() if k is not None]
            assert len(real) == 1 and len(real[0]) == 1, (tier, rows)
        else:
            rows = {
                r["bucket"]: sorted(x["v"] for x in r["sample"])
                for r in v2[tier].collect()
            }
            null_keys = [k for k in rows if k is None]
            assert len(null_keys) == 1, (tier, rows)
            # the three NULL-ts rows (user 2 twice: a sample keeps
            # multiplicity) merged into the single NULL group
            assert rows[None] == [2.0, 3.0, 4.0], (tier, rows)
            # the real bucket survived alongside with its one row
            real = [v for k, v in rows.items() if k is not None]
            assert real == [[1.0]], (tier, rows)


def test_multires_drain_fails_loud_on_desynced_state_root(spark, tmp_path):
    """ADVICE r13 (medium): by the foreachBatch contract the ONLY
    legitimate missing-predecessor is batch 0 — if state_root is lost or
    points elsewhere while the CHECKPOINT remembers processed batches,
    silently treating prev as empty would rebuild from only the new
    files and report a wrong 'latest committed' state with all prior
    data dropped. The drain must raise a named error instead."""
    import os

    import pandas as pd
    import pytest
    from pyspark.sql.types import _parse_datatype_string

    from imdb_mapreduce_spark.streaming.jobs import incremental_multires_drain

    t0 = pd.Timestamp("2026-04-01 00:00:00")
    src = str(tmp_path / "src")
    os.makedirs(src)

    def put_file(i: int) -> None:
        pdf = pd.DataFrame(
            [(t0 + pd.Timedelta(minutes=i), "click", 1.0)],
            columns=["ts", "event_type", "value"],
        )
        path = os.path.join(src, f"b{i}.parquet")
        pdf.to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    st = _parse_datatype_string("ts timestamp, event_type string, value double")
    state_root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    put_file(0)
    assert incremental_multires_drain(spark, src, st, state_root, ckpt)

    # Desync: the checkpoint has processed batch 0, but the state is gone
    # (scratch disk cleaned / wrong path). Batch 1 must NOT silently
    # rebuild from its own file alone.
    import shutil

    shutil.rmtree(state_root)
    put_file(1)
    with pytest.raises(Exception, match="out of sync"):
        incremental_multires_drain(spark, src, st, state_root, ckpt)


def test_multires_drain_committed_scan_ignores_stray_v_entries(spark, tmp_path):
    """ADVICE r13 (low): the post-drain committed-version listing parses
    int(basename[1:]) over a v* glob — a stray file or editor artifact
    matching v* (e.g. 'vXtmp', 'v1.bak') must be skipped, not raise
    ValueError after the stream already ran."""
    import os

    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    from imdb_mapreduce_spark.streaming.jobs import incremental_multires_drain

    t0 = pd.Timestamp("2026-04-02 00:00:00")
    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = pd.DataFrame(
        [(t0, "click", 2.0)], columns=["ts", "event_type", "value"]
    )
    pdf.to_parquet(
        os.path.join(src, "b0.parquet"),
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    st = _parse_datatype_string("ts timestamp, event_type string, value double")
    state_root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(state_root)
    # stray entries that match the v* glob but are not state versions
    with open(os.path.join(state_root, "vXtmp"), "w") as f:
        f.write("junk\n")
    os.makedirs(os.path.join(state_root, "v1.bak"))
    with open(os.path.join(state_root, "v1.bak", "_COMMIT"), "w") as f:
        f.write("ok\n")  # committed-looking but NOT a version directory

    state = incremental_multires_drain(spark, src, st, state_root, ckpt)
    assert state is not None
    rows = state["minute"].collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 1


def test_session_sentinel_tracks_caller_gap(spark):
    """ADVICE r13 (low): the sentinel offset derives from the SAME gap
    the processor uses — a caller-supplied gap_us > 10x the default must
    still place the sentinel past every open session's close instant."""
    import datetime

    from imdb_mapreduce_spark.streaming.jobs import (
        SESSION_SENTINEL_UID,
        session_sentinel_df,
    )
    from imdb_mapreduce_spark.streaming.stateful import SESSION_GAP_US

    hi = datetime.datetime(2026, 5, 1, 12, 0, 0)
    events = spark.createDataFrame([(7, hi)], "user_id bigint, ts timestamp")

    big_gap = 20 * SESSION_GAP_US
    for gap in (None, big_gap):
        sent = session_sentinel_df(spark, events, *(() if gap is None else (gap,)))
        row = sent.first()
        assert row["user_id"] == SESSION_SENTINEL_UID
        eff = SESSION_GAP_US if gap is None else gap
        delta_us = (row["ts"] - hi) // datetime.timedelta(microseconds=1)
        assert delta_us == 10 * eff, (gap, delta_us)


def test_session_rejects_out_of_order_batches(spark, tmp_path):
    """VERDICT r13 item 5: the input contract ("a batch must not contain
    events older than a previous batch's for the same user") is enforced
    at the API boundary — a caller wiring a genuinely out-of-order
    source gets a named SessionOrderViolation, not silently wrong
    sessions. Also pins that the guard stays armed ACROSS a timeout
    closure (the end timestamp survives as max-seen-ts)."""
    import os

    import pandas as pd
    import pytest

    from imdb_mapreduce_spark.streaming.stateful import sessions_by_timeout

    t0 = pd.Timestamp("2026-07-01 12:00:00")
    h = pd.Timedelta(hours=1)

    def run(batches, tag):
        src = str(tmp_path / f"src_{tag}")
        os.makedirs(src)
        for i, rows in batches.items():
            pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
            path = os.path.join(src, f"b{i}.parquet")
            pdf.to_parquet(
                path, coerce_timestamps="us", allow_truncated_timestamps=True
            )
            os.utime(path, (1_000_000 + i, 1_000_000 + i))
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            sessions_by_timeout(stream)
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # direct violation: batch 1 carries an event OLDER than batch 0's,
    # inside the engine's one-batch watermark lag window — the exact
    # band where a violating row reaches the update function at all
    with pytest.raises(Exception, match="SessionOrderViolation|monotone"):
        run({0: [(7, t0)], 1: [(7, t0 - h)]}, "direct")

    # same-instant duplicate is NOT a violation (equal, not older)
    run({0: [(7, t0)], 1: [(7, t0)]}, "dup")


def test_session_watermark_drops_rows_behind_it(spark, tmp_path):
    """The OTHER half of the input boundary (r14): once the global
    watermark has passed a timestamp, the ENGINE's standard late-record
    policy drops such rows before the update function sees them — so
    a timeout-closed session cannot be corrupted by a very-late event; it
    was emitted exactly once and the state stays closed. Together with
    the guard above, every out-of-order input is either engine-dropped
    (behind the watermark) or fails loud (inside the watermark lag) —
    never silently mis-sessionized."""
    import os

    import pandas as pd

    from imdb_mapreduce_spark.streaming.stateful import sessions_by_timeout

    t0 = pd.Timestamp("2026-07-02 12:00:00")
    h = pd.Timedelta(hours=1)
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = {
        0: [(7, t0)],
        1: [(8, t0 + 5 * h)],  # watermark passes 7's close -> timeout
        2: [(7, t0 - 2 * h)],  # behind the watermark: engine-dropped
    }
    for i, rows in batches.items():
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        path = os.path.join(src, f"b{i}.parquet")
        pdf.to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def sink(df, _id):
        df.write.mode("append").parquet(out)

    ckpt = str(tmp_path / "ckpt")
    q = (
        sessions_by_timeout(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["session_no"], r["n_events"])
        for r in spark.read.parquet(out).filter("user_id = 7").collect()
    )
    # exactly the timeout-closed session 1; the dropped row opened nothing
    assert got == [(7, 1, 1)], got
    state = {
        r["user_id"]: (r["session_no"], r["start_us"], r["n_events"])
        for r in spark.read.format("statestore")
        .load(ckpt)
        .select("key.user_id", "value.groupState.*")
        .collect()
    }
    # closed marker (NULL start) with the counter AND max-seen kept
    assert state[7] == (1, None, 0), state


def test_multires_kmv_incremental_restart_drill(spark, tmp_path):
    """Restart-matrix drill for the NON-additive (KMV sketch) incremental
    rollup (VERDICT r13 item 4): drain two files, stop, deliver two more,
    restart from the SAME checkpoint/state — versions resume; the final
    three-tier SKETCH state equals the direct single-pass derivation over
    ALL data (prev=None fold IS the batch cascade, exact by the merge
    law). A third drain with nothing new is a no-op."""
    import os

    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    from imdb_mapreduce_spark.streaming.jobs import (
        incremental_multires_drain,
        merge_batch,
    )

    t0 = pd.Timestamp("2026-03-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    batches = {
        # user 3 appears in minutes 1 AND 61 (cross-batch hour dedup);
        # user 1 re-touches minute 1 in batch 1 (sketch upsert merge)
        0: [(t0 + 1 * m, 1), (t0 + 2 * m, 2), (t0 + 1 * m, 3)],
        1: [(t0 + 61 * m, 3), (t0 + 1 * m, 4)],
        2: [(t0 + pd.Timedelta(days=1), 5)],
        3: [(t0 + 62 * m, 6), (t0 + 2 * m, 1)],
    }
    src = str(tmp_path / "src")
    os.makedirs(src)

    def put_file(i: int) -> None:
        pdf = pd.DataFrame(batches[i], columns=["ts", "user_id"])
        path = os.path.join(src, f"b{i}.parquet")
        pdf.to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    put_file(0)
    put_file(1)
    st = _parse_datatype_string("ts timestamp, user_id bigint")
    state_root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def snap(state):
        return {
            tier: sorted(
                (r["bucket"], tuple(r["hashes"]))
                for r in state[tier].collect()
            )
            for tier in ("minute", "hour", "day")
        }

    phase1 = incremental_multires_drain(
        spark, src, st, state_root, ckpt, DISTINCT
    )
    assert phase1 is not None
    put_file(2)
    put_file(3)
    phase2 = incremental_multires_drain(
        spark, src, st, state_root, ckpt, DISTINCT
    )
    got = snap(phase2)
    assert os.path.exists(os.path.join(state_root, "v3", "_COMMIT"))
    all_rows = [r for b in batches.values() for r in b]
    direct = merge_batch(
        DISTINCT,
        spark.createDataFrame(
            pd.DataFrame(all_rows, columns=["ts", "user_id"])
        ),
        None,
    )
    assert got == snap(direct)
    # sanity on the drill's own geometry: hour 0 holds users {1,2,3,4}
    # exactly once each (user 3's minute-61 copy is hour 1's)
    hour0 = [h for b, h in got["hour"] if b.hour == 0 and b.day == 1]
    assert len(hour0) == 1 and len(hour0[0]) == 4, got["hour"]
    # redundant restart: nothing new -> state unchanged
    phase3 = incremental_multires_drain(
        spark, src, st, state_root, ckpt, DISTINCT
    )
    assert snap(phase3) == got


_CASCADES = (
    "events_multires_rollup",
    "events_multires_distinct_rollup",
    "events_multires_quantile_rollup",
)
_ASOF_READERS = (
    "events_rollup_time_travel",
    "events_rollup_erasure_asof",
    "events_quantile_erasure_asof",
)


@pytest.fixture(scope="module")
def sf_without_slice0(tmp_path_factory):
    """A copy of sf0.001 whose ``events.parquet`` lacks md5 slice 0 of
    ``event_id`` — the first micro-batch the as-of readers stage is then
    empty. The other tables are copied unchanged."""
    import shutil

    import duckdb

    d = tmp_path_factory.mktemp("sf_without_slice0")
    for f in os.listdir(SF):
        if f != "events.parquet":
            shutil.copy(os.path.join(SF, f), d / f)
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SF}/events.parquet') WHERE"
        " ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT"
        f" % 4 <> 0) TO '{d / 'events.parquet'}' (FORMAT parquet)"
    )
    con.close()
    return str(d)


@pytest.mark.parametrize(
    "name, without_slice0",
    [(n, False) for n in _CASCADES + _ASOF_READERS]
    + [(n, True) for n in _ASOF_READERS],
)
def test_cascade_and_asof_readers_match_their_oracles(
    spark, request, name, without_slice0
):
    """The three batch cascades (`AggSpec.cascade`) and the three as-of
    readers (`streaming/jobs._asof`) equal their registered oracles
    exactly (floats bitwise). The as-of readers run a second time on a
    corpus whose md5 slice 0 is empty: the empty slice still stages as
    a version, so ``VERSION AS OF v1`` is still slices 0-1."""
    from check_correctness import compare, duck_connection

    from imdb_mapreduce_spark.plans.registry import all_queries

    sf = request.getfixturevalue("sf_without_slice0") if without_slice0 else SF
    q = all_queries()[name]
    got = q.spark_fn(spark, sf).toPandas()
    con = duck_connection(sf)
    try:
        want = con.execute(q.oracle).df()
    finally:
        con.close()
    assert len(want) > 0
    assert compare(name, got, want) == []
