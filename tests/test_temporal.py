"""AS-OF and band join operator semantics on hand-built cases."""

from __future__ import annotations

import datetime as dt

from imdb_mapreduce_spark.operators.temporal import asof_join, band_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_picks_latest_prior(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2024-01-01T10:00:00")),
            (2, "u1", _ts("2024-01-01T12:00:00")),
            (3, "u2", _ts("2024-01-01T09:00:00")),  # no prior right row
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            ("a", "u1", _ts("2024-01-01T09:30:00")),
            ("b", "u1", _ts("2024-01-01T11:00:00")),
            ("c", "u2", _ts("2024-01-01T23:00:00")),  # after u2's event
        ],
        ["tag", "user_id", "ts"],
    )
    out = {
        r["event_id"]: r["tag_asof"]
        for r in asof_join(left, right, "user_id", "ts", ["tag"]).collect()
    }
    assert out == {1: "a", 2: "b", 3: None}


def test_asof_join_simultaneous_right_counts(spark):
    left = spark.createDataFrame(
        [(1, "u", _ts("2024-01-01T10:00:00"))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [("x", "u", _ts("2024-01-01T10:00:00"))], ["tag", "user_id", "ts"]
    )
    row = asof_join(left, right, "user_id", "ts", ["tag"]).collect()[0]
    assert row["tag_asof"] == "x"  # ts equality: right row is already known


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized cross-check against pandas merge_asof (a third
    independent implementation of the semantics, besides DuckDB's native
    ASOF JOIN in the oracle suite)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    base = pd.Timestamp("2024-01-01")
    left = pd.DataFrame(
        {
            "event_id": np.arange(300),
            "user_id": rng.integers(0, 10, 300).astype("int64"),
            "ts": base + pd.to_timedelta(rng.integers(0, 10**6, 300), unit="s"),
        }
    )
    right = pd.DataFrame(
        {
            "tag": np.arange(1000, 1120),
            "user_id": rng.integers(0, 10, 120).astype("int64"),
            "ts": base + pd.to_timedelta(rng.integers(0, 10**6, 120), unit="s"),
        }
    )
    expected = pd.merge_asof(
        left.sort_values("ts"),
        right.sort_values("ts"),
        on="ts",
        by="user_id",
        direction="backward",
    ).set_index("event_id")["tag"]

    got_rows = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        key="user_id",
        ts="ts",
        payload=["tag"],
    ).collect()
    got = {r["event_id"]: r["tag_asof"] for r in got_rows}
    assert len(got) == len(left)
    for eid, want in expected.items():
        w = None if pd.isna(want) else int(want)
        assert got[eid] == w, f"event {eid}: got {got[eid]}, want {w}"


def test_band_join_boundaries(spark):
    facts = spark.createDataFrame([(0.0,), (14.99,), (15.0,), (99.9,)], ["v"])
    bands = spark.createDataFrame(
        [("low", 0.0, 15.0), ("high", 15.0, 100.0)], ["band", "lo", "hi"]
    )
    got = {
        r["v"]: r["band"] for r in band_join(facts, bands, "v").collect()
    }
    # half-open [lo, hi): 15.0 belongs to 'high'
    assert got == {0.0: "low", 14.99: "low", 15.0: "high", 99.9: "high"}


def test_asof_null_payload_from_matched_row_survives(spark):
    # The most recent matching right row has price=NULL: true AS-OF
    # semantics return that NULL — not an older row's non-null price.
    left = spark.createDataFrame([("k", 10)], ["key", "ts"])
    right = spark.createDataFrame(
        [("k", 1, 100.0, "old"), ("k", 5, None, "new")],
        "key string, ts int, price double, tag string",
    )
    out = asof_join(left, right, "key", "ts", ["price", "tag"]).collect()
    assert len(out) == 1
    assert out[0]["price_asof"] is None  # matched row's NULL survives
    assert out[0]["tag_asof"] == "new"   # and columns stay from one row


def test_asof_duplicate_ts_deterministic_tiebreak(spark):
    # Two right rows at the same (key, ts): the maximum payload struct
    # wins, deterministically, under any partitioning.
    left = spark.createDataFrame([("k", 10)], ["key", "ts"])
    right = spark.createDataFrame(
        [("k", 5, 1.0, "a"), ("k", 5, 2.0, "b")],
        "key string, ts int, price double, tag string",
    )
    for n in (1, 7):
        out = asof_join(
            left, right.repartition(n), "key", "ts", ["price", "tag"]
        ).collect()
        assert (out[0]["price_asof"], out[0]["tag_asof"]) == (2.0, "b")


def test_asof_join_matches_pandas_with_null_payloads(spark):
    """Same cross-check with NULLABLE payload columns — the blind spot
    that hid the carry-each-column-independently bug: merge_asof returns
    the matched row's values, NULLs included, and both payload columns
    must come from the same matched row."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    base = pd.Timestamp("2024-01-01")
    left = pd.DataFrame(
        {
            "event_id": np.arange(200),
            "user_id": rng.integers(0, 8, 200).astype("int64"),
            "ts": base + pd.to_timedelta(rng.integers(0, 10**6, 200), unit="s"),
        }
    )
    # distinct ts per user so merge_asof's match is unique (our duplicate
    # tiebreak is max-struct, pandas' is last-sorted — only equivalent on
    # unique keys; duplicates are covered by their own deterministic test)
    rts = rng.choice(10**6, size=100, replace=False)
    price = rng.uniform(1, 9, 100).round(2)
    price[rng.random(100) < 0.4] = np.nan  # 40% NULL payloads
    right = pd.DataFrame(
        {
            "tag": np.arange(2000, 2100),
            "user_id": rng.integers(0, 8, 100).astype("int64"),
            "ts": base + pd.to_timedelta(rts, unit="s"),
            "price": price,
        }
    )
    expected = (
        pd.merge_asof(
            left.sort_values("ts"),
            right.sort_values("ts"),
            on="ts",
            by="user_id",
            direction="backward",
        )
        .set_index("event_id")[["tag", "price"]]
    )

    got_rows = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        key="user_id",
        ts="ts",
        payload=["tag", "price"],
    ).collect()
    got = {r["event_id"]: (r["tag_asof"], r["price_asof"]) for r in got_rows}
    assert len(got) == len(left)
    for eid, row in expected.iterrows():
        want_tag = None if pd.isna(row["tag"]) else int(row["tag"])
        want_price = None if pd.isna(row["price"]) else float(row["price"])
        gt, gp = got[eid]
        assert gt == want_tag, f"event {eid}: tag {gt} != {want_tag}"
        assert gp == want_price, f"event {eid}: price {gp} != {want_price}"


def test_asof_state_is_unique_per_user_and_within_interval(spark):
    """AS-OF read invariants: at most one state per user (intervals
    partition the timeline), and every returned row's interval must
    actually contain T."""
    from imdb_mapreduce_spark.plans.temporal_queries import (
        ASOF_T_US,
        user_state_asof,
        user_state_scd2,
    )

    sf = "/root/testdata/sf0.01"
    rows = user_state_asof(spark, sf).collect()
    assert rows
    users = [r["user_id"] for r in rows]
    assert len(users) == len(set(users))
    ivals = {
        (r["user_id"], r["version"]): r
    for r in user_state_scd2(spark, sf).collect()}
    for r in rows:
        iv = ivals[(r["user_id"], r["version"])]
        assert iv["event_type"] == r["event_type"]
        assert iv["valid_from_us"] <= ASOF_T_US
        assert iv["valid_to_us"] == -1 or iv["valid_to_us"] > ASOF_T_US


# ---- overlap_join_binned (large-large interval overlap, no equi-key) ----


def _naive_overlap_pairs(lrows, rrows):
    """Reference: the O(n*m) definition the binned plan must reproduce."""
    out = set()
    for lid, ls, le in lrows:
        for rid, rs, re in rrows:
            if ls <= re and rs <= le:
                out.add((lid, rid))
    return out


def test_overlap_join_binned_matches_naive_randomized(spark):
    """Randomized A/B vs the quadratic definition: point intervals,
    multi-bin spans, exact bin-edge touches — every overlapping pair
    exactly once, nothing else."""
    import numpy as np

    from imdb_mapreduce_spark.operators.temporal import overlap_join_binned

    rng = np.random.default_rng(42)
    W = 100
    n = 120
    starts = rng.integers(0, 2_000, n)
    # mix: ~1/3 points, ~1/3 short, ~1/3 spanning several bins; plus
    # hand-planted bin-edge geometry below
    durs = np.concatenate(
        [
            np.zeros(n // 3, dtype=int),
            rng.integers(1, W, n // 3),
            rng.integers(W, 5 * W, n - 2 * (n // 3)),
        ]
    )
    rng.shuffle(durs)
    lrows = [(int(i), int(s), int(s + d)) for i, (s, d) in enumerate(zip(starts, durs))]
    # edge cases: end exactly on a bin boundary; start on a boundary;
    # touching intervals (end1 == start2 -> closed-interval overlap)
    lrows += [(1000, 0, W), (1001, W, W), (1002, 2 * W, 3 * W - 1)]
    rrows = [(int(1_000_000 + i), int(s), int(e)) for i, (_, s, e) in enumerate(lrows[::2])]

    left = spark.createDataFrame(lrows, ["lid", "ls", "le"])
    right = spark.createDataFrame(rrows, ["rid", "rs", "re"])
    got_rows = overlap_join_binned(
        left, right, bin_width=W, l_start="ls", l_end="le", r_start="rs", r_end="re"
    ).collect()
    got = [(r["lid"], r["rid"]) for r in got_rows]
    assert len(got) == len(set(got)), "a pair was emitted more than once"
    assert set(got) == _naive_overlap_pairs(lrows, rrows)


def test_overlap_join_binned_is_equi_join_not_nested_loop(spark):
    """The scale contract: candidates are bounded by bin co-membership —
    the physical plan must join on the bin id (any equi-join strategy),
    never fall back to a nested loop / cartesian over the inputs."""
    from imdb_mapreduce_spark.operators.temporal import overlap_join_binned

    left = spark.createDataFrame([(1, 0, 10)], ["lid", "ls", "le"])
    right = spark.createDataFrame([(2, 5, 15)], ["rid", "rs", "re"])
    plan = (
        overlap_join_binned(
            left, right, bin_width=100,
            l_start="ls", l_end="le", r_start="rs", r_end="re",
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_overlap_join_binned_bin_budget_fails_loud(spark):
    """A mis-sized bin_width must die at executor time with the knob named,
    not silently explode one row into millions of bin rows."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from imdb_mapreduce_spark.operators.temporal import overlap_join_binned

    left = spark.createDataFrame([(1, 0, 10_000)], ["lid", "ls", "le"])
    right = spark.createDataFrame([(2, 0, 1)], ["rid", "rs", "re"])
    with pytest.raises(SparkRuntimeException, match="max_bins_per_row"):
        overlap_join_binned(
            left, right, bin_width=1,
            l_start="ls", l_end="le", r_start="rs", r_end="re",
            max_bins_per_row=64,
        ).collect()


def test_overlap_join_binned_exact_at_ns_epoch_scale(spark):
    """Bin math must be exact LONG floor-division: nanosecond epochs
    (~1.8e18) sit far above double's 2^53 exact-integer range, and
    negative coordinates must floor (not truncate toward zero)."""
    from imdb_mapreduce_spark.operators.temporal import overlap_join_binned

    W = 3_600_000_000_000  # 1h in ns
    base = 1_800_000_000_000_000_000  # ~2027 in epoch-ns
    lrows = [
        (1, base, base + W // 2),
        (2, base + W // 2, base + 3 * W),  # touches 1 at a single point
        (3, base + 10 * W, base + 10 * W),  # far point interval
        (4, -3 * W - 7, -2 * W),  # negative coordinates
    ]
    rrows = [
        (11, base + W // 2, base + W // 2),  # point ON the touch instant
        (12, base + 9 * W, base + 11 * W),
        (13, -2 * W - 1, -1),
    ]
    left = spark.createDataFrame(lrows, ["lid", "ls", "le"])
    right = spark.createDataFrame(rrows, ["rid", "rs", "re"])
    got = {
        (r["lid"], r["rid"])
        for r in overlap_join_binned(
            left, right, bin_width=W,
            l_start="ls", l_end="le", r_start="rs", r_end="re",
        ).collect()
    }
    assert got == _naive_overlap_pairs(lrows, rrows)


# ---- sweep_peaks (two-phase distributed sweep-line concurrency) ----


def _iv_df(spark, rows):
    return spark.createDataFrame(
        rows, ["user_id", "session_no", "start_us", "end_us"]
    )


def _peaks(spark, rows, chunk_us=86_400_000_000):
    from imdb_mapreduce_spark.plans.events import sweep_peaks

    return {
        r["day_no"]: r["peak"]
        for r in sweep_peaks(_iv_df(spark, rows), chunk_us).collect()
    }


def test_sweep_touching_closed_intervals_both_active(spark):
    """A session ending at t and another starting at t are concurrent at
    the instant t (closed intervals) — peak 2, not 1."""
    assert _peaks(spark, [(1, 1, 0, 10), (2, 1, 10, 20)]) == {0: 2}


def test_sweep_adjacent_but_disjoint_no_spurious_peak(spark):
    """end+1 boundary encoding plus the -1-before-+1 tie rule: a session
    starting one tick after another ends never reads as concurrent."""
    assert _peaks(spark, [(1, 1, 0, 10), (2, 1, 11, 20)]) == {0: 1}


def test_sweep_carry_across_chunks(spark):
    """A session spanning chunk boundaries carries its level into later
    chunks: a chunk with no starts still sees the carried concurrency."""
    D = 86_400_000_000
    rows = [
        (1, 1, 0, 2 * D + 3600),     # spans days 0..2
        (2, 1, D + 100, D + 200),    # inside day 1
    ]
    assert _peaks(spark, rows) == {0: 1, 1: 2, 2: 1}


def test_sweep_two_phase_matches_naive_randomized(spark):
    """Randomized A/B vs a Python sweep over the same boundary/tie
    semantics, with intervals spanning multiple chunks and heavy ties."""
    import numpy as np

    rng = np.random.default_rng(11)
    D = 1_000  # small chunk so intervals span many chunks
    rows = []
    for i in range(300):
        s = int(rng.integers(0, 20 * D))
        e = s + int(rng.integers(0, 3 * D))
        rows.append((int(i % 17), int(i), s, e))
    # naive: level at each boundary, -1 (from end+1) before +1 at ties;
    # a chunk's peak starts at the level CARRIED into it (attained at the
    # chunk's first instant), then maxes over its boundary levels
    bounds = []
    for _, _, s, e in rows:
        bounds.append((s, 1))
        bounds.append((e + 1, -1))
    bounds.sort()
    level, want = 0, {}
    for t, d in bounds:
        day = t // D
        if day not in want:
            want[day] = level  # carry at the chunk's first boundary
        level += d
        want[day] = max(want[day], level)
    assert _peaks(spark, rows, chunk_us=D) == want


def test_overlap_join_binned_hot_bin_salting_preserves_results(spark):
    """Targeted hot-bin salting is a pure load-spreading rewrite: the
    emitted pair set must be identical to the unsalted plan, including
    for a bin of IDENTICAL point intervals (the geometry where a
    value-derived salt would collapse to one slice)."""
    import numpy as np

    from imdb_mapreduce_spark.operators.temporal import overlap_join_binned

    rng = np.random.default_rng(5)
    W = 100
    rows = [(int(i), 250, 250) for i in range(40)]  # hot: identical points
    rows += [
        (int(100 + i), int(s), int(s) + int(d))
        for i, (s, d) in enumerate(
            zip(rng.integers(0, 3_000, 80), rng.integers(0, 250, 80))
        )
    ]
    left = spark.createDataFrame(rows, ["lid", "ls", "le"])
    right = spark.createDataFrame(
        [(int(10_000 + i), s, e) for i, (_, s, e) in enumerate(rows)],
        ["rid", "rs", "re"],
    )

    def pairs(**kw):
        return {
            (r["lid"], r["rid"])
            for r in overlap_join_binned(
                left, right, bin_width=W,
                l_start="ls", l_end="le", r_start="rs", r_end="re", **kw
            ).collect()
        }

    base = pairs()
    salted = pairs(hot_bin_threshold=20, hot_bin_salts=4)
    assert salted == base
    assert base  # non-vacuous: the hot bin must actually produce pairs


def test_suggest_overlap_plan_cost_model_and_budget(spark):
    """W* = sqrt(mean_dur * horizon / n): shrinks ~sqrt(x) as density
    grows x-fold; the long tail sizes the explode BUDGET (max_dur//W+2,
    so the longest interval passes the guard with margin) rather than
    clamping W — one long interval must not cap the resolution for
    everyone; empty input degrades to (1, 1024)."""
    from imdb_mapreduce_spark.operators.temporal import suggest_overlap_plan

    from pyspark.sql.functions import col as F_col

    def suggest(intervals):
        plan = suggest_overlap_plan(intervals, "s", "e")
        return plan.bin_width, plan.max_bins_per_row

    def iv(n, dur, horizon):
        return spark.range(n).select(
            (F_col("id") * (horizon // n)).alias("s"),
            (F_col("id") * (horizon // n) + dur).alias("e"),
        )

    w1, _ = suggest(iv(1_000, 600, 1_000_000))
    w2, _ = suggest(iv(100_000, 600, 1_000_000))
    # sqrt law: 100x density -> ~10x narrower bins (integer rounding slack)
    assert 8 <= w1 / max(w2, 1) <= 12
    # long tail: one whole-horizon interval leaves W mean-based and
    # returns a budget the guard accepts for it
    from pyspark.sql import functions as F

    long_iv = iv(1_000, 600, 1_000_000).unionAll(
        spark.range(1).select(
            F.lit(0).alias("s"), F.lit(999_000).alias("e")
        )
    )
    w3, budget3 = suggest(long_iv)
    assert 999_000 // w3 + 1 <= budget3  # the long interval fits the guard
    assert w3 <= 2 * w1  # ...without inflating W for everyone
    empty = spark.range(0).select(
        F_col("id").alias("s"), F_col("id").alias("e")
    )
    assert suggest(empty) == (1, 1024)


def test_sweep_rollup_chunk_invariance(spark):
    """The registered query's day output must be chunk-granularity
    invariant: sweeping at day/k and rolling up (max over fine peaks)
    equals sweeping at the day directly — every level attained during a
    day is visible at a boundary or as the carry into a represented
    fine chunk."""
    import numpy as np

    from pyspark.sql import functions as F

    from imdb_mapreduce_spark.plans.events import sweep_peaks

    rng = np.random.default_rng(23)
    D = 86_400_000_000
    rows = []
    for i in range(400):
        s = int(rng.integers(0, 10 * D))
        e = s + int(rng.integers(0, 2 * D))  # up to 2-day spans
        rows.append((int(i % 13), int(i), s, e))
    iv = _iv_df(spark, rows)
    day_form = {
        r["day_no"]: r["peak"] for r in sweep_peaks(iv, D).collect()
    }
    for k in (8, 128):
        fine = sweep_peaks(iv, D // k)
        rolled = {
            r["day_no"]: r["peak"]
            for r in fine.select(
                F.expr(f"day_no div {k}").alias("day_no"), "peak"
            )
            .groupBy("day_no")
            .agg(F.max("peak").alias("peak"))
            .collect()
        }
        assert rolled == day_form, f"k={k}"


def test_sweep_phase1_never_single_partition(spark):
    """The sweep's scale contract: the boundary stream's window runs
    across day-chunk hash partitions; the ONLY single-partition exchange
    allowed in the plan is phase 2's carry window over one-row-per-chunk
    (the textbook global-ordered sweep would put the whole stream
    through one partition — the exact anti-pattern this operator
    exists to avoid)."""
    from imdb_mapreduce_spark.plans.events import sweep_peaks

    iv = _iv_df(spark, [(1, 1, 0, 100), (2, 1, 500, 900)])
    plan = (
        sweep_peaks(iv)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("SinglePartition") == 1, plan


def test_overlap_join_binned_hot_bin_sides(spark):
    """ADVICE r12: a bin hot only on the RIGHT side must be salt-eligible.
    All three `hot_bin_sides` settings are pure load-spreading rewrites,
    so each must reproduce the unsalted pair set on an asymmetric corpus
    (one left row in the bin where the right side piles up); a bogus
    setting must fail at plan time with the parameter named."""
    import pytest

    from imdb_mapreduce_spark.operators.temporal import overlap_join_binned

    W = 100
    # left: sparse — one interval per bin; right: 60 point intervals all
    # inside bin 2 (hot ONLY on the right) plus a background row per bin
    left = spark.createDataFrame(
        [(int(i), int(i * W), int(i * W + 10)) for i in range(8)],
        ["lid", "ls", "le"],
    )
    rrows = [(int(1000 + i), 250, 250) for i in range(60)]
    rrows += [(int(2000 + i), int(i * W + 5), int(i * W + 6)) for i in range(8)]
    right = spark.createDataFrame(rrows, ["rid", "rs", "re"])

    def pairs(**kw):
        return {
            (r["lid"], r["rid"])
            for r in overlap_join_binned(
                left, right, bin_width=W,
                l_start="ls", l_end="le", r_start="rs", r_end="re", **kw
            ).collect()
        }

    base = pairs()
    assert base  # the hot bin overlaps left row 2 — non-vacuous
    for sides in ("left", "right", "both"):
        assert pairs(
            hot_bin_threshold=20, hot_bin_salts=4, hot_bin_sides=sides
        ) == base, sides
    with pytest.raises(ValueError, match="hot_bin_sides"):
        pairs(hot_bin_threshold=20, hot_bin_sides="upside-down")
    # Validated even with salting DISARMED (threshold None) — a typo'd
    # value must fail at plan time, not when the threshold is armed
    # later elsewhere (ADVICE r13).
    with pytest.raises(ValueError, match="hot_bin_sides"):
        pairs(hot_bin_sides="upside-down")


def test_suggest_overlap_plan_hot_bin_arming(spark, monkeypatch):
    """The auto-plan's hot-bin threshold (VERDICT r12 item 3): the
    work-based FLOOR binds on sparse corpora (salting a small bin buys
    nothing); on a dense-but-UNIFORM corpus the threshold scales up with
    the expected per-bin population so ordinary bins never pay the
    replication tax; and with the floor patched down, a flash-crowd
    geometry arms salting through the registered-path plan while
    preserving the exact pair set."""
    from pyspark.sql import functions as F

    from imdb_mapreduce_spark.operators import temporal
    from imdb_mapreduce_spark.operators.temporal import (
        overlap_join_binned,
        suggest_overlap_plan,
    )

    # sparse: expected population ≪ floor → the floor binds
    sparse = spark.range(1_000).select(
        (F.col("id") * 1_000).alias("s"),
        (F.col("id") * 1_000 + 600).alias("e"),
    )
    p = suggest_overlap_plan(sparse, "s", "e")
    assert p.hot_bin_threshold == temporal._HOT_BIN_MIN_POP
    assert p.hot_bin_salts == temporal._HOT_BIN_SALTS

    # dense uniform: 100k intervals on a 100-tick horizon → every bin
    # legitimately carries ~2k rows; the threshold must rise ABOVE the
    # uniform share (multiplier × expected > floor) so nothing arms
    dense = spark.range(100_000).select(
        F.pmod(F.col("id"), F.lit(100)).alias("s"),
        (F.pmod(F.col("id"), F.lit(100)) + 1).alias("e"),
    )
    pd_ = suggest_overlap_plan(dense, "s", "e")
    expected_pop = 100_000 * (1 + pd_.bin_width) / (100 + pd_.bin_width)
    assert pd_.hot_bin_threshold > temporal._HOT_BIN_MIN_POP
    assert pd_.hot_bin_threshold > expected_pop  # uniform bins stay cold

    # flash crowd end-to-end at test scale: patch the floor down so the
    # 40-row crowd bin arms, then check plan-driven salting is invisible
    # in the result set (the registered query's exact wiring)
    monkeypatch.setattr(temporal, "_HOT_BIN_MIN_POP", 25)
    rows = [(int(i), 250, 250) for i in range(300)]
    rows += [(int(1000 + i), int(i * 97) % 3_000, (int(i * 97) % 3_000) + 50)
             for i in range(80)]
    iv = spark.createDataFrame(rows, ["iid", "s", "e"])
    crowd_plan = suggest_overlap_plan(iv.select("s", "e"), "s", "e")
    assert crowd_plan.hot_bin_threshold < 300  # the crowd bin will arm

    left = iv.select(
        F.col("iid").alias("lid"), F.col("s").alias("ls"), F.col("e").alias("le")
    )
    right = iv.select(
        F.col("iid").alias("rid"), F.col("s").alias("rs"), F.col("e").alias("re")
    )

    def pairs(**kw):
        return {
            (r["lid"], r["rid"])
            for r in overlap_join_binned(
                left, right, bin_width=crowd_plan.bin_width,
                l_start="ls", l_end="le", r_start="rs", r_end="re",
                max_bins_per_row=crowd_plan.max_bins_per_row, **kw
            ).collect()
        }

    assert pairs(
        hot_bin_threshold=crowd_plan.hot_bin_threshold,
        hot_bin_salts=crowd_plan.hot_bin_salts,
        hot_bin_sides="left",
    ) == pairs()
