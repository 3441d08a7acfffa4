"""Property tests for the salted KMV merge law at the handler-core level
(no Spark session): for ANY pair stream, ANY batch split, and ANY salt
count, per-sub-key k-smallest keeps, unioned and re-trimmed, equal the
global k-smallest over distinct pairs — the exact claim
`streaming_kmv_distinct_salted`'s downstream aggregation relies on.

Runs `_merge_kmv_state` itself (version check, monotone kth prefilter,
np.unique merge, trim) through a GroupState stub, so the property covers
the production code path, not a re-derivation of it.

(The r14 salted-rank test at the bottom is the one exception to the
no-Spark rule here: it pins the engine-side `kmv_k_smallest` against a
naive rank, which needs a session.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from imdb_mapreduce_spark.plans.quality import KMV_K
from imdb_mapreduce_spark.streaming.stateful import (
    KMV_STATE_VERSION,
    KmvStateVersionError,
    _merge_kmv_state,
)


class FakeState:
    """The minimal GroupState surface `_merge_kmv_state` touches."""

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


def _drain(pairs: list[tuple[int, int]], n_batches: int) -> FakeState:
    """Feed `pairs` through one state in `n_batches` sequential calls
    (cross-batch incrementality, like micro-batches arriving)."""
    state = FakeState()
    chunks = np.array_split(np.arange(len(pairs)), n_batches)
    for idx in chunks:
        batch = pd.DataFrame(
            {
                "h": np.array([pairs[i][0] for i in idx], dtype=np.int64),
                "user_id": np.array([pairs[i][1] for i in idx], dtype=np.int64),
            }
        )
        _merge_kmv_state(state, iter([batch]))
    return state


# small hash space (0..200) forces heavy collisions: distinct users with
# the SAME hash — the case pair-keyed dedup exists for
pair_lists = st.lists(
    st.tuples(st.integers(0, 200), st.integers(0, 50)),
    min_size=1,
    max_size=400,
)


@settings(max_examples=60, deadline=None)
@given(pairs=pair_lists, n_salts=st.integers(1, 7), n_batches=st.integers(1, 5))
def test_salted_subkey_merge_equals_global(pairs, n_salts, n_batches):
    want = sorted(set(pairs))[:KMV_K]  # global keep set over distinct pairs

    # salted: route each pair by pmod(h, n_salts), drain per sub-key,
    # union the keep sets, re-take the k smallest (the downstream agg)
    merged: list[tuple[int, int]] = []
    rows_total = 0
    for s in range(n_salts):
        sub = [p for p in pairs if p[0] % n_salts == s]
        if not sub:
            continue
        state = _drain(sub, min(n_batches, len(sub)))
        ver, hashes, users, rows_seen = state.get
        assert ver == KMV_STATE_VERSION
        rows_total += rows_seen
        merged.extend(zip(hashes, users))
    got = sorted(set(merged))[:KMV_K]

    assert got == want
    assert rows_total == len(pairs)


@settings(max_examples=30, deadline=None)
@given(pairs=pair_lists, n_batches=st.integers(1, 5))
def test_unsalted_state_equals_global(pairs, n_batches):
    state = _drain(pairs, min(n_batches, len(pairs)))
    _, hashes, users, rows_seen = state.get
    assert sorted(zip(hashes, users)) == sorted(set(pairs))[:KMV_K]
    assert rows_seen == len(pairs)


def test_stale_version_raises_typed():
    state = FakeState((KMV_STATE_VERSION - 1, [1], [1], 3))
    batch = pd.DataFrame({"h": [2], "user_id": [2]})
    try:
        _merge_kmv_state(state, iter([batch]))
    except KmvStateVersionError as exc:
        assert "discard the checkpoint" in str(exc)
    else:
        raise AssertionError("stale state version did not raise")


def test_salt_count_is_data_proportional():
    """The salt count scales with the footer (the seventh events decade
    caught a fixed count as a fixed-width-at-scale member): driver SFs
    keep the 8-salt floor (recorded plans/decades unchanged), a 1B-row
    drain gets enough sub-keys that even a 100%-hot key stays under the
    per-sub-key row budget, and the function is monotone."""
    from imdb_mapreduce_spark.streaming.stateful import (
        KMV_SALTS,
        KMV_SUBKEY_TARGET_ROWS,
        kmv_salts_for_rows,
    )

    assert kmv_salts_for_rows(0) == KMV_SALTS
    assert kmv_salts_for_rows(100_000) == KMV_SALTS          # sf0.1
    assert kmv_salts_for_rows(100_000_000) == 13             # 1000x events
    n = kmv_salts_for_rows(1_000_000_000)                    # 10000x
    assert n == 125
    assert 1_000_000_000 / n <= KMV_SUBKEY_TARGET_ROWS       # worst hot key
    prev = 0
    for rows in (0, 10**5, 10**7, 10**8, 10**9, 10**10):
        cur = kmv_salts_for_rows(rows)
        assert cur >= prev
        prev = cur


def test_subkey_target_rows_env_override(monkeypatch):
    """SPARK_GRAFT_KMV_SUBKEY_TARGET_ROWS retunes the per-sub-key row
    budget without editing source (VERDICT r10 item 6): the default is
    this box's measured Arrow-buffer wall, but a deployment with
    different direct-memory headroom sets the env var. Read at call
    time — no module reload."""
    from imdb_mapreduce_spark.streaming.stateful import (
        KMV_SALTS,
        kmv_salts_for_rows,
    )

    assert kmv_salts_for_rows(1_000_000_000) == 125  # measured default
    monkeypatch.setenv("SPARK_GRAFT_KMV_SUBKEY_TARGET_ROWS", "1000000")
    assert kmv_salts_for_rows(1_000_000_000) == 1000  # tighter budget
    monkeypatch.setenv(
        "SPARK_GRAFT_KMV_SUBKEY_TARGET_ROWS", "1000000000000"
    )
    assert kmv_salts_for_rows(1_000_000_000) == KMV_SALTS  # floor holds
    monkeypatch.delenv("SPARK_GRAFT_KMV_SUBKEY_TARGET_ROWS")
    assert kmv_salts_for_rows(1_000_000_000) == 125


def test_subkey_target_rows_env_validated_with_named_error(monkeypatch):
    """ADVICE r11: a bad SPARK_GRAFT_KMV_SUBKEY_TARGET_ROWS must raise a
    clear error NAMING the variable at the sizing call — not a bare
    ValueError/ZeroDivisionError that the footer-probe try/except in
    jobs.py would misdiagnose as a probe failure and re-raise from
    inside the fallback path (masking the real root cause)."""
    import pytest

    from imdb_mapreduce_spark.streaming.stateful import kmv_salts_for_rows

    for bad in ("8M", "", "8.5", "0", "-3"):
        monkeypatch.setenv("SPARK_GRAFT_KMV_SUBKEY_TARGET_ROWS", bad)
        with pytest.raises(ValueError) as exc:
            kmv_salts_for_rows(1_000_000_000)
        assert "SPARK_GRAFT_KMV_SUBKEY_TARGET_ROWS" in str(exc.value)
        assert "positive integer" in str(exc.value)


def test_fallback_salts_safe_at_largest_corpus():
    """ADVICE r10: the footer-probe failure fallback must satisfy the
    safety property it claims ('fail SAFE toward MORE salts') at the
    largest corpus the operator is validated for — i.e. the fallback
    salt count keeps even a 100%-hot key under the per-sub-key budget
    at KMV_FALLBACK_MAX_ROWS. The old fixed 64 broke this past 512M."""
    from imdb_mapreduce_spark.streaming.stateful import (
        KMV_FALLBACK_MAX_ROWS,
        KMV_SUBKEY_TARGET_ROWS,
        kmv_salts_for_rows,
    )

    n = kmv_salts_for_rows(KMV_FALLBACK_MAX_ROWS)
    assert KMV_FALLBACK_MAX_ROWS / n <= KMV_SUBKEY_TARGET_ROWS
    assert KMV_FALLBACK_MAX_ROWS >= 2 * 1_000_000_000  # ≥2× largest measured


def test_doubly_wrong_checkpoint_reports_version_first():
    """ADVICE r10: a checkpoint that is BOTH stale-version and
    different-salt-count must die KmvStateVersionError — the schema
    revision is the root cause; the salt count is meaningless across
    revisions."""
    from imdb_mapreduce_spark.streaming.stateful import _SaltedStateView

    stale_and_resalted = FakeState(
        (KMV_STATE_VERSION - 1, 4, [1], [1], 3)
    )  # (v, n_salts, hashes, users, rows_seen)
    view = _SaltedStateView(stale_and_resalted, n_salts=8)
    try:
        view.get
    except KmvStateVersionError:
        pass
    else:
        raise AssertionError(
            "doubly-wrong checkpoint did not report the version root cause"
        )


def test_kmv_k_smallest_salted_rank_matches_naive(spark):
    """The cascade's minute tier (r14): the SALTED two-level rank
    (`plans/events.kmv_k_smallest`) must emit, for every bucket, exactly
    the sorted K smallest distinct hashes — identical to a naive
    per-bucket rank — for any salt width, including widths far above and
    below the bucket populations (the merge law: any global top-K hash
    is top-K in its own salt slice)."""
    import random

    from pyspark.sql import functions as F

    from imdb_mapreduce_spark.plans.events import kmv_k_smallest

    rng = random.Random(14)
    rows = []
    # bucket 0: tiny (below K); bucket 1: exactly K; bucket 2: a crowd
    sizes = {0: 5, 1: KMV_K, 2: 10 * KMV_K + 7}
    expected = {}
    for b, n in sizes.items():
        hs = rng.sample(range(1, 1 << 40), n)
        rows += [(b, h) for h in hs]
        # r14: dedup is INTERNAL (the lag filter riding the salted
        # sort) — feed heavy duplication and the smallest hash many
        # times; the output must not change
        rows += [(b, h) for h in hs[: n // 2]]
        rows += [(b, min(hs))] * 10
        expected[b] = sorted(hs)[:KMV_K]
    pairs = spark.createDataFrame(rows, "bucket int, h long").repartition(7)

    for salt in (1, 4, 32, 1000):
        got = {
            r["bucket"]: list(r["hashes"])
            for r in kmv_k_smallest(pairs, salt=salt).collect()
        }
        assert got == expected, salt


def test_kmv_rank_recursive_merge(spark):
    """ADVICE r14: above the fan-in cap the level-2 merge must NOT be a
    single collect of salt·K elements — `kmv_k_smallest` folds through
    one more salted rank at `_KMV_L2_FANIN` width. Pins (a) that the
    recursive branch structurally engages above the cap (a second
    window pass appears in the plan) and not below it, and (b) that the
    output is byte-identical to the non-recursive small-salt rank — the
    KMV merge law's output-invariance, now across the recursion
    boundary too."""
    import io
    import random
    from contextlib import redirect_stdout

    from imdb_mapreduce_spark.plans.events import (
        _KMV_L2_FANIN,
        kmv_k_smallest,
    )

    rng = random.Random(15)
    hs = rng.sample(range(1, 1 << 40), 5 * KMV_K + 3)
    pairs = spark.createDataFrame(
        [(1, h) for h in hs + hs[: KMV_K]], "bucket int, h long"
    ).repartition(5)
    expected = {1: sorted(set(hs))[:KMV_K]}

    def plan(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    flat = kmv_k_smallest(pairs, salt=_KMV_L2_FANIN)
    deep = kmv_k_smallest(pairs, salt=4 * _KMV_L2_FANIN)
    # the rank window runs once per level — the per-level count of
    # row_number mentions in the formatted plan is renderer-dependent
    # (node line + detail line), so pin the RATIO: the recursive path
    # must show exactly twice the flat path's rank windows
    n_flat = plan(flat).count("row_number")
    n_deep = plan(deep).count("row_number")
    assert n_flat >= 1 and n_deep == 2 * n_flat, (n_flat, n_deep)
    for df in (flat, deep):
        got = {r["bucket"]: list(r["hashes"]) for r in df.collect()}
        assert got == expected


def test_sketch_erasure_membership_trigger(spark):
    """The erasure repair's EXACT pruning claim (r14): a minute's sketch
    is re-derived ONLY when an erased user's hash is a member of its
    K-array. Pins both directions on a bucket with > K distinct users:
    erasing the LARGEST-hash user (never a member) must leave every
    tier's sketch byte-identical to the pre-erasure state AND to the
    rebuild-without-them (they sit below the cut either way); erasing
    the SMALLEST-hash user (always a member) must change the sketch and
    land exactly on the rebuild."""
    import datetime
    import hashlib

    from pyspark.sql import functions as F

    from imdb_mapreduce_spark.plans.events import (
        DISTINCT,
        kmv_k_smallest,
        kmv_minute_pairs,
        rederive_erasure_repair,
    )

    def h(uid: int) -> int:
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)

    users = list(range(200, 200 + KMV_K + 6))  # > K distinct in one bucket
    ts = datetime.datetime(2026, 9, 1, 10, 0, 30)
    e = spark.createDataFrame(
        [(ts, u) for u in users], "ts timestamp, user_id bigint"
    )
    prev_m = kmv_k_smallest(kmv_minute_pairs(e)).localCheckpoint(eager=True)

    def snap(tiers):
        return {
            u: sorted((r["bucket"], tuple(r["hashes"])) for r in df.collect())
            for u, df in tiers.items()
        }

    def rebuild(pred):
        m = kmv_k_smallest(kmv_minute_pairs(e.filter(~pred)))
        from imdb_mapreduce_spark.plans.events import kmv_merge_up

        hh = kmv_merge_up(m, "hour")
        return {"minute": m, "hour": hh, "day": kmv_merge_up(hh, "day")}

    by_hash = sorted(users, key=h)
    largest, smallest = by_hash[-1], by_hash[0]

    for uid, changes in ((largest, False), (smallest, True)):
        pred = F.col("user_id") == uid
        rep = snap(rederive_erasure_repair(DISTINCT, e, prev_m, pred))
        assert rep == snap(rebuild(pred)), uid
        prev_snap = sorted(
            (r["bucket"], tuple(r["hashes"])) for r in prev_m.collect()
        )
        assert (rep["minute"] != prev_snap) == changes, uid


def test_kmv_merge_arrays_equals_direct_both_grains(spark):
    """The r15-opt one-exchange array merge (`kmv_merge_arrays`, used by
    `kmv_merge_up` and the fold/realtime minute merges) must equal the
    direct salted `kmv_k_smallest` over the re-bucketed raw pairs — at
    BOTH coarsening grains (hour←minute and day←minute, the grain the
    un-chained erasure/fold derivations use) and with the same user
    appearing in several minutes (the flatten path must DEDUPE those
    cross-child duplicate hashes exactly like the salted sort's lag
    filter) and > K distinct users per coarse bucket (the slice must
    cut, not just sort)."""
    import datetime
    import random

    from pyspark.sql import functions as F

    from imdb_mapreduce_spark.plans.events import (
        kmv_k_smallest,
        kmv_merge_up,
        kmv_minute_pairs,
    )

    rng = random.Random(23)
    base = datetime.datetime(2026, 9, 1, 10, 0, 0)
    rows = []
    # 4 minutes spanning 2 hours of one day; ~K distinct users per
    # minute, every third user repeated in the NEXT minute too
    for minute in (0, 1, 59, 60):
        users = rng.sample(range(1, 10_000), KMV_K + 7)
        for u in users:
            rows.append((base + datetime.timedelta(minutes=minute), u))
            if u % 3 == 0:
                rows.append(
                    (base + datetime.timedelta(minutes=minute + 1), u)
                )
    e = spark.createDataFrame(rows, "ts timestamp, user_id long")
    pairs = kmv_minute_pairs(e)
    minute_tier = kmv_k_smallest(pairs).localCheckpoint(eager=True)

    def snap(df):
        return sorted(
            (r["bucket"], tuple(r["hashes"])) for r in df.collect()
        )

    for unit in ("hour", "day"):
        merged = kmv_merge_up(minute_tier, unit)
        direct = kmv_k_smallest(
            pairs.select(
                F.date_trunc(unit, F.col("bucket")).alias("bucket"), "h"
            )
        )
        assert snap(merged) == snap(direct), unit


def test_fold_merge_legs_stay_on_bounded_array_merge(spark):
    """r16 (VERDICT r15 item 6): the drain's fold merge legs share
    `merge_batch`, whose K-capped inputs must route through the
    ONE-exchange array merges (`kmv_merge_arrays` /
    `bottomk_merge_arrays`), never the salted rank — the salted window
    pass exists for UNBOUNDED raw only. Pins the plan shape of every
    tier of both sketch-family folds (prev + batch, the incremental
    path): zero Window nodes anywhere in the fold plan, so a future
    refactor cannot silently reintroduce exchange + Tungsten window +
    second exchange on bounded input. (The raw partials pass is
    pre-aggregated before these plans — its salted rank lives in
    kmv_k_smallest/bottomk_sample and is exercised on the batch side,
    which `mb` here has already materialized away, exactly like the
    drain's pinned partials.)"""
    import datetime
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F  # noqa: F811

    from imdb_mapreduce_spark.plans.events import DISTINCT, QUANTILE
    from imdb_mapreduce_spark.streaming.jobs import merge_batch

    ts = datetime.datetime(2026, 9, 1, 10, 0, 30)
    mk = lambda off: spark.createDataFrame(  # noqa: E731
        [
            (ts + datetime.timedelta(minutes=i), 100 + off + i, float(i))
            for i in range(4)
        ],
        "ts timestamp, user_id bigint, value double",
    ).withColumn("event_id", F.col("user_id") * 10)

    def plan(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    for spec in (DISTINCT, QUANTILE):
        # prev state from batch 0 (pinned like the drain's committed
        # tiers), then fold batch 1 against it — the drain's hot path
        prev = {
            t: df.localCheckpoint(eager=True)
            for t, df in merge_batch(spec, mk(0), None).items()
        }
        mb = spec.partials(mk(50)).localCheckpoint(eager=True)
        tiers = merge_batch(spec, mk(50), prev, partials=mb)
        for unit in ("minute", "hour", "day"):
            p = plan(tiers[unit])
            assert "Window" not in p, (spec.name, unit, p)
