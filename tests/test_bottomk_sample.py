"""The bottom-K row-sample merge law (r15) — the quantile cascade's
foundation. Unlike the KMV hash-SET law (`test_kmv_merge_law`), this one
is over ROW MULTISETS: the sample keeps multiplicity (two rows sharing
(h, v) are two sample rows), and the law is that top-K selection over a
totally ordered multiset is mergeable WITH multiplicity — any row in the
union's bottom-K ranks ≤ K within its own child. The pure-python
property test pins the law itself; the Spark tests pin that
`bottomk_sample` / `bottomk_merge_up` implement it (salt-invariant,
recursion-invariant, multiplicity-preserving) and that the quantile
readout is EXACT below fill."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from imdb_mapreduce_spark.plans.events import QTL_K

triples = st.tuples(
    st.integers(0, 30),  # tiny hash space → heavy (h, v) collisions
    st.integers(0, 5),
    st.integers(0, 3),
)


@settings(max_examples=80, deadline=None)
@given(
    rows=st.lists(triples, min_size=1, max_size=300),
    n_children=st.integers(1, 6),
    k=st.integers(1, 12),
)
def test_bottomk_multiset_merge_law(rows, n_children, k):
    """bottom-k(union of children's bottom-k's) == bottom-k(all rows),
    as MULTISETS, for any split of the rows into children — the claim
    `bottomk_merge_up` relies on at every cascade level."""
    children = [rows[i::n_children] for i in range(n_children)]
    merged: list = []
    for c in children:
        merged += sorted(c)[:k]
    assert sorted(merged)[:k] == sorted(rows)[:k]


def _pairs_df(spark, rows):
    return spark.createDataFrame(
        rows, "bucket int, h long, v double, uh long"
    ).repartition(7)


def test_bottomk_sample_matches_naive(spark):
    """For every bucket, `bottomk_sample` must emit exactly the sorted
    K smallest (h, v, uh) ROWS — multiplicity preserved (duplicated
    rows below the cut appear as many times as they occur), identical
    to a naive per-bucket sort — for any salt width."""
    import random

    from imdb_mapreduce_spark.plans.events import bottomk_sample

    rng = random.Random(15)
    rows = []
    expected = {}
    # bucket 0: tiny (below K); bucket 1: exactly K; bucket 2: a crowd
    # with heavy duplication of the SMALLEST row (multiplicity must
    # survive — the KMV dedup would be a bug here)
    sizes = {0: 5, 1: QTL_K, 2: 4 * QTL_K + 7}
    for b, n in sizes.items():
        hs = rng.sample(range(1, 1 << 40), n)
        bucket_rows = [
            (b, h, float(rng.randint(0, 99)), rng.randrange(1 << 30))
            for h in hs
        ]
        smallest = min(bucket_rows, key=lambda r: (r[1], r[2], r[3]))
        bucket_rows += [smallest] * 3  # duplicate rows, same (h, v, uh)
        rows += bucket_rows
        expected[b] = sorted(
            (r[1], r[2], r[3]) for r in bucket_rows
        )[:QTL_K]

    for salt in (1, 4, 32, 1000):
        got = {
            r["bucket"]: [(e["h"], e["v"], e["uh"]) for e in r["sample"]]
            for r in bottomk_sample(_pairs_df(spark, rows), salt=salt).collect()
        }
        assert got == expected, salt


def test_bottomk_recursive_merge(spark):
    """Above `_QTL_L2_FANIN` the level-2 merge folds through one more
    salted rank instead of a single salt·K collect — same recursion
    contract as `kmv_k_smallest` (ADVICE r14): the plan grows exactly
    one more rank level, the output not at all."""
    import io
    import random
    from contextlib import redirect_stdout

    from imdb_mapreduce_spark.plans.events import (
        _QTL_L2_FANIN,
        bottomk_sample,
    )

    rng = random.Random(16)
    rows = [
        (1, h, float(rng.randint(0, 99)), rng.randrange(1 << 30))
        for h in rng.sample(range(1, 1 << 40), 3 * QTL_K + 5)
    ]
    rows += rows[:QTL_K]  # duplicates across the cut
    expected = {1: sorted((r[1], r[2], r[3]) for r in rows)[:QTL_K]}

    def plan(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    pairs = _pairs_df(spark, rows)
    flat = bottomk_sample(pairs, salt=_QTL_L2_FANIN)
    deep = bottomk_sample(pairs, salt=4 * _QTL_L2_FANIN)
    n_flat = plan(flat).count("row_number")
    n_deep = plan(deep).count("row_number")
    assert n_flat >= 1 and n_deep == 2 * n_flat, (n_flat, n_deep)
    for df in (flat, deep):
        got = {
            r["bucket"]: [(e["h"], e["v"], e["uh"]) for e in r["sample"]]
            for r in df.collect()
        }
        assert got == expected


def test_bottomk_merge_up_equals_direct(spark):
    """One cascade level: merging the minutes' sample arrays up to the
    hour must equal the direct bottom-K over the hour's rows — including
    a row duplicated ACROSS two minutes (both copies must survive into
    the hour sample when both rank ≤ K)."""
    import datetime
    import random

    from imdb_mapreduce_spark.plans.events import (
        bottomk_merge_up,
        bottomk_sample,
        qtl_minute_pairs,
    )

    rng = random.Random(17)
    base = datetime.datetime(2026, 9, 1, 10, 0, 0)
    rows = []
    eid = 0
    for minute in range(3):
        for _ in range(QTL_K // 2 + rng.randint(0, QTL_K)):
            eid += 1
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(minutes=minute, seconds=1),
                    rng.randrange(1, 1 << 30),
                    float(rng.randint(0, 99)),
                )
            )
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    pairs = qtl_minute_pairs(e)
    minute_tier = bottomk_sample(pairs).localCheckpoint(eager=True)
    hour = bottomk_merge_up(minute_tier, "hour")

    import pyspark.sql.functions as F

    direct = bottomk_sample(
        pairs.select(
            F.date_trunc("hour", F.col("bucket")).alias("bucket"),
            "h",
            "v",
            "uh",
        )
    )

    def snap(df):
        return sorted(
            (r["bucket"], tuple((e["h"], e["v"], e["uh"]) for e in r["sample"]))
            for r in df.collect()
        )

    assert snap(hour) == snap(direct)


def test_qtl_exact_below_fill(spark):
    """m < QTL_K ⟺ the sample IS the bucket, so p50/p90/p99 must be the
    TRUE percentiles (ceil-index rule over the full sorted values) —
    the exactness property the rollup docstring promises."""
    import datetime
    import math
    import random

    from imdb_mapreduce_spark.plans.events import (
        bottomk_sample,
        qtl_bucket_stats,
        qtl_minute_pairs,
    )

    rng = random.Random(18)
    base = datetime.datetime(2026, 9, 2, 8, 30, 0)
    n = QTL_K - 10
    values = [float(rng.randint(0, 10_000)) for _ in range(n)]
    e = spark.createDataFrame(
        [
            (i + 1, base + datetime.timedelta(seconds=i % 50), i, v)
            for i, v in enumerate(values)
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )
    out = qtl_bucket_stats(
        bottomk_sample(qtl_minute_pairs(e)), "minute"
    ).collect()
    assert len(out) == 1
    row = out[0]
    sv = sorted(values)
    assert row["m"] == n
    for p, col in ((50, "p50"), (90, "p90"), (99, "p99")):
        idx = math.floor((p * n + 99) / 100)  # == ceil(p·n/100), exact
        assert row[col] == sv[idx - 1], (p, row[col], sv[idx - 1])


def test_sample_erasure_membership_trigger(spark):
    """The quantile erasure repair's EXACT pruning claim: a minute's
    sample is re-derived ONLY when a sampled row belongs to an erased
    user — the reason `qtl_minute_pairs` carries ``uh`` inside every
    element. Pins both directions on a bucket with > K rows: erasing
    the user of the bucket's LARGEST-hash row (never sampled) must
    leave every tier's sample byte-identical to the pre-erasure state
    AND to the rebuild-without-them; erasing the user of the
    SMALLEST-hash row (always sampled) must change the sample and land
    exactly on the rebuild."""
    import datetime
    import hashlib

    import pyspark.sql.functions as F

    from imdb_mapreduce_spark.plans.events import (
        QUANTILE,
        bottomk_merge_up,
        bottomk_sample,
        qtl_minute_pairs,
        rederive_erasure_repair,
    )

    def h(x: int) -> int:
        return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)

    n = QTL_K + 20  # > K rows in one bucket, one row per user
    ts = datetime.datetime(2026, 9, 1, 10, 0, 30)
    rows = [(eid, ts, 1000 + eid, float(eid % 50)) for eid in range(1, n + 1)]
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    prev_m = bottomk_sample(qtl_minute_pairs(e)).localCheckpoint(eager=True)

    def snap(tiers):
        return {
            u: sorted(
                (
                    r["bucket"],
                    tuple((x["h"], x["v"], x["uh"]) for x in r["sample"]),
                )
                for r in df.collect()
            )
            for u, df in tiers.items()
        }

    def rebuild(pred):
        m = bottomk_sample(qtl_minute_pairs(e.filter(~pred)))
        hh = bottomk_merge_up(m, "hour")
        return {"minute": m, "hour": hh, "day": bottomk_merge_up(hh, "day")}

    by_hash = sorted(rows, key=lambda r: h(r[0]))  # rank by event-id hash
    sampled_user = by_hash[0][2]  # owns the smallest-hash row → in sample
    unsampled_user = by_hash[-1][2]  # owns the largest-hash row → below cut

    for uid, changes in ((unsampled_user, False), (sampled_user, True)):
        pred = F.col("user_id") == uid
        rep = snap(rederive_erasure_repair(QUANTILE, e, prev_m, pred))
        assert rep == snap(rebuild(pred)), uid
        prev_snap = sorted(
            (
                r["bucket"],
                tuple((x["h"], x["v"], x["uh"]) for x in r["sample"]),
            )
            for r in prev_m.collect()
        )
        assert (rep["minute"] != prev_snap) == changes, uid


def test_erase_versioned_history_sample_purges_every_as_of_read(
    spark, tmp_path
):
    """The quantile family's history purge: after
    `erase_versioned_history` over the quantile spec, every as-of read
    under the purged root must equal the DIRECT sample cascade over the
    remaining rows of that version's batch prefix (no inverse — touched
    minutes re-derive from prefix raw under the user-membership trigger);
    versions before the first erased row carry byte-equal."""
    import os

    import pandas as pd

    from imdb_mapreduce_spark.plans.events import (
        QUANTILE,
        _erased_col,
        bottomk_merge_up,
        bottomk_sample,
        qtl_minute_pairs,
    )
    from imdb_mapreduce_spark.streaming.jobs import (
        erase_versioned_history,
        incremental_multires_drain,
        state_as_of,
    )

    t0 = pd.Timestamp("2026-03-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    # batch 0 clean; users 3 and 10 erased (user % 7 == 3); user 10
    # shares a minute with survivors so the membership trigger has both
    # a hit and a carry to exercise
    batches = {
        0: [(t0 + 1 * m, 1, 1, 5.0), (t0 + 2 * m, 2, 2, 7.0)],
        1: [
            (t0 + 1 * m, 3, 3, 1.0),
            (t0 + 61 * m, 4, 10, 9.0),
            (t0 + 61 * m, 5, 4, 2.0),
        ],
        2: [(t0 + pd.Timedelta(days=1), 6, 10, 3.0), (t0 + 61 * m, 7, 1, 4.0)],
        3: [(t0 + 62 * m, 8, 2, 6.0), (t0 + 2 * m, 9, 3, 8.0)],
    }
    cols = ["ts", "event_id", "user_id", "value"]
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
        "ts timestamp, event_id bigint, user_id bigint, value double"
    )
    state_root = str(tmp_path / "state")
    incremental_multires_drain(
        spark, src, st, state_root, str(tmp_path / "ckpt"), QUANTILE
    )
    bdfs = [
        spark.createDataFrame(pd.DataFrame(batches[i], columns=cols))
        for i in range(4)
    ]
    purged_root = str(tmp_path / "purged")
    assert erase_versioned_history(
        spark, state_root, purged_root, bdfs, _erased_col(), QUANTILE
    ) == [0, 1, 2, 3]

    def snap(state):
        return {
            tier: sorted(
                (
                    r["bucket"],
                    tuple((x["h"], x["v"], x["uh"]) for x in r["sample"]),
                )
                for r in state[tier].collect()
            )
            for tier in ("minute", "hour", "day")
        }

    for k in range(4):
        prefix_rows = [r for i in range(k + 1) for r in batches[i]]
        remaining = spark.createDataFrame(
            pd.DataFrame(prefix_rows, columns=cols)
        ).filter(~_erased_col())
        dm = bottomk_sample(qtl_minute_pairs(remaining))
        direct = {
            "minute": dm,
            "hour": (dh := bottomk_merge_up(dm, "hour")),
            "day": bottomk_merge_up(dh, "day"),
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


# ---------------------------------------------------------------------------
# Streaming handler core (`_merge_qtl_state`) — the FakeState pattern of
# test_kmv_merge_law, for the multiset merge: no Spark session needed.
# ---------------------------------------------------------------------------


class FakeState:
    def __init__(self, tup=None):
        self._t = tup

    @property
    def exists(self):
        return self._t is not None

    @property
    def get(self):
        return self._t

    def update(self, t):
        self._t = t


def _drain_qtl(rows, n_batches):
    import numpy as np
    import pandas as pd

    from imdb_mapreduce_spark.streaming.stateful import _merge_qtl_state

    state = FakeState()
    chunks = np.array_split(np.arange(len(rows)), n_batches)
    keep = rows_seen = None
    for idx in chunks:
        batch = pd.DataFrame(
            {
                "h": np.array([rows[i][0] for i in idx], dtype=np.int64),
                "v": np.array([rows[i][1] for i in idx], dtype=np.float64),
                "uh": np.array([rows[i][2] for i in idx], dtype=np.int64),
            }
        )
        keep, rows_seen = _merge_qtl_state(state, iter([batch]))
    return keep, rows_seen, state


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 40),  # tiny hash space → heavy collisions
            st.integers(0, 5).map(float),
            st.integers(-1, 3),
        ),
        min_size=1,
        max_size=300,
    ),
    n_batches=st.integers(1, 5),
)
def test_qtl_state_merge_equals_global_multiset(rows, n_batches):
    """For ANY triple stream and ANY batch split, the drained state must
    hold exactly sorted(all rows)[:K] — as a MULTISET (duplicates below
    the cut kept), the property `np.unique` would break."""
    keep, rows_seen, _ = _drain_qtl(rows, n_batches)
    got = list(zip(keep[0].tolist(), keep[1].tolist(), keep[2].tolist()))
    assert got == sorted(rows)[:QTL_K]
    assert rows_seen == len(rows)


def test_qtl_state_stale_version_raises_typed():
    import pandas as pd

    from imdb_mapreduce_spark.streaming.stateful import (
        QtlStateVersionError,
        _merge_qtl_state,
    )

    state = FakeState((99, [1], [1.0], [1], 1))
    try:
        _merge_qtl_state(
            state,
            iter([pd.DataFrame({"h": [2], "v": [2.0], "uh": [2]})]),
        )
    except QtlStateVersionError as e:
        assert "99" in str(e) and "discard the checkpoint" in str(e)
    else:
        raise AssertionError("stale version must raise QtlStateVersionError")
