"""Temporal join operators Spark lacks as builtins: AS-OF join and range
(band) join — composed from existing DataFrame ops, per the engine's
custom-operator policy (composition first, Pandas-UDF only if semantics
demand it; these don't).

AS-OF join (``asof_join``): for each left row, the single most recent right
row with key equality and right.ts <= left.ts. Implemented with the
union + last(ignorenulls) window trick:

  1. tag both inputs and union them on (key, ts);
  2. one window per key ordered by (ts, tag, payload-struct) carries the
     most recent right ROW forward as a single non-null struct with
     ``last(..., ignorenulls=True)``;
  3. keep left rows and unpack the struct.

All payload columns travel together in ONE struct, so they always come
from the same matched right row and genuinely-NULL payload values survive
(carrying each column independently would let a NULL in the latest match
fall back to an older row — DuckDB ASOF JOIN / pandas merge_asof return
the matched row's values, NULLs included). Duplicate (key, ts) right rows
tie-break deterministically on the payload struct itself (maximum wins),
independent of partitioning.

One shuffle on the key, no range-duplicating self-join, no per-row Python —
the scalable shape (a sort-merge AS-OF, as native engines implement it,
falls out of the window's sort). Right-side payloads travel through the
window, so wide right sides should be pruned to needed columns first.

Range join (``band_join``): non-equi join against a (usually tiny) interval
table — broadcast the bands and let the nested-loop join run per-partition;
with band count ≪ rows this is a map-side operation.

Interval overlap join (``overlap_join_binned``): LARGE × LARGE interval
overlap with no equi-key — the case ``band_join``'s broadcast
nested-loop cannot survive (both sides big → O(|L|·|R|) comparisons and
a broadcast that doesn't fit). Open-source Spark has no native range
join (Databricks' range-join hint is a managed-runtime feature), so the
scalable shape is composed from builtins: discretize time into
fixed-width bins, explode each interval onto the bins it covers, and
equi-join on the bin so the sort-merge/shuffled-hash machinery bounds
candidates to pairs sharing a bin. Each overlapping pair is emitted
EXACTLY ONCE without a distinct: only the bin containing the overlap's
start (``floor(max(l.start, r.start) / W)``) reports the pair — that bin
is covered by both intervals by construction, so no dedup shuffle and no
double counting, whatever the interval lengths.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    payload: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row: latest ``right`` row with same ``key`` and
    right.ts <= left.ts (ties: right row wins — it is 'already known' at
    that instant). Left rows with no prior right row keep NULL payloads.
    All payload columns come from the SAME matched right row; duplicate
    (key, ts) right rows tie-break on the maximum payload struct.

    Requires every payload column to be orderable (the deterministic
    tie-break sorts the whole payload struct): map-typed payload columns
    fail analysis. If you need to carry a map, wrap it — e.g. pass
    ``map_entries(m)`` (an orderable array<struct>) and rebuild with
    ``map_from_entries`` after the join.
    """
    from pyspark.sql import types as T

    lcols = left.columns
    struct_t = T.StructType([right.schema[p] for p in payload])
    l_tag = left.select(
        *lcols,
        F.lit(1).alias("_side"),
        F.lit(None).cast(struct_t).alias("_r"),
    )
    r_tag = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(p) for p in payload]).alias("_r"),
    )
    # align schemas: left extra columns become NULL on the right side
    for c in lcols:
        if c not in (key, ts):
            r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = l_tag.unionByName(r_tag.select(l_tag.columns))

    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc(), F.col("_r").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols, "_side", F.last("_r", ignorenulls=True).over(w).alias("_m")
    )
    return carried.filter(F.col("_side") == 1).select(
        *lcols,
        *[F.col("_m").getField(p).alias(f"{p}{suffix}") for p in payload],
    )


def overlap_join_binned(
    left: DataFrame,
    right: DataFrame,
    bin_width: int,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    max_bins_per_row: int | None = 1024,
    hot_bin_threshold: int | None = None,
    hot_bin_salts: int = 16,
    hot_bin_sides: str = "both",
) -> DataFrame:
    """All (left, right) pairs whose CLOSED intervals overlap:
    ``l_start <= r_end AND r_start <= l_end``. Column names must be
    disjoint between the two sides (rename before calling); start/end
    are integers in the caller's time unit and ``bin_width`` is in the
    same unit.

    Scale shape: each side explodes onto ``floor(start/W)..floor(end/W)``
    bin ids (a data-proportional blow-up of ``duration/W + 1`` rows per
    interval), the join runs as an EQUI-join on the bin id, and the
    count-once predicate keeps exactly the bin holding the overlap's
    start. Candidate work per bin is |L_bin|·|R_bin| — choose W near the
    typical interval length so most intervals land in O(1) bins while
    bins stay small. ``max_bins_per_row`` fails loudly (JVM-side
    ``raise_error``, no extra pass) when one interval would explode past
    the budget — a mis-sized W at 100 TB should die at plan time with a
    named knob, not OOM an executor.

    Hot bins: AQE's skew-join split CANNOT rescue a hot bin, and this
    was measured, not assumed (SCALING.md r12) — AQE detects skew by
    shuffle-partition BYTES (``skewedPartitionThresholdInBytes``,
    256 MB default), while a hot bin is tiny on input (30k rows ≈ 1 MB)
    and quadratic only in probe WORK, so the engine sees nothing to
    split and one task eats |hot|² probes. ``hot_bin_threshold`` turns
    on the targeted fix: a
    cheap pre-pass counts exploded bin populations, bins
    above the threshold get ``hot_bin_salts``-way parallelism — each
    LEFT row lands in one salt slice, the RIGHT rows in hot bins
    replicate across all slices, the join key becomes (bin, salt) so the
    hot bin fans out to ``hot_bin_salts`` reducers. Results are
    byte-identical (each left row still meets the full right set exactly
    once); cold bins pay nothing (salt 0, no replication); the cost is
    the pre-pass plus right-side ×salts replication INSIDE hot bins
    only. Salt assignment uses monotonically_increasing_id purely for
    load-spreading — which slice a row lands in never affects the output
    set.

    ``hot_bin_sides`` picks which exploded side(s) the pre-pass counts
    (ADVICE r12: left-only counting misses a bin that is hot only on
    the right — small |L_bin| × huge |R_bin| is the same one-reducer
    quadratic drain). ``"both"`` (default) counts both sides and salts
    the UNION of the hot sets — the safe general contract. ``"left"`` /
    ``"right"`` count one side only, halving the pre-pass; correct
    whenever the caller KNOWS that side dominates — in particular the
    self-join case, where both sides explode the SAME interval table
    and the two hot sets coincide by construction.
    """
    # Plan-time validation regardless of whether salting is armed: a
    # typo'd value with threshold=None must not pass silently only to
    # raise (or dead-letter) when the threshold is armed later
    # (ADVICE r13).
    if hot_bin_sides not in ("left", "right", "both"):
        raise ValueError(
            "overlap_join_binned: hot_bin_sides must be 'left', "
            f"'right' or 'both', got {hot_bin_sides!r}"
        )
    w = int(bin_width)

    def floordiv(expr: str) -> "F.Column":
        # Exact floor-division in LONG arithmetic: (c - pmod(c, w)) is
        # divisible by w, so SQL `div` (integer division) is exact —
        # unlike floor(c / w), whose double division loses exactness
        # above 2^53 (nanosecond epochs are ~1.8e18: the double path can
        # mis-bin them). pmod keeps floor semantics for negative
        # coordinates too. Built from the caller's column NAMES because
        # `div` has no pyspark.sql.functions wrapper.
        return F.expr(f"(({expr}) - pmod(({expr}), {w})) div {w}")

    def binned(df: DataFrame, start: str, end: str, side: str) -> DataFrame:
        lo = floordiv(start)
        hi = floordiv(end)
        n_bins = hi - lo + F.lit(1)
        if max_bins_per_row is not None:
            hi = F.when(
                n_bins > max_bins_per_row,
                F.raise_error(
                    F.format_string(
                        "overlap_join_binned: %s-side interval covers %s bins"
                        " > max_bins_per_row=" + str(max_bins_per_row)
                        + "; raise bin_width or the budget",
                        F.lit(side),
                        n_bins,
                    ),
                ).cast("long"),
            ).otherwise(hi)
        return df.withColumn("_bin_" + side, F.explode(F.sequence(lo, hi)))

    lb = binned(left, l_start, l_end, "l")
    rb = binned(right, r_start, r_end, "r")
    cond = (
        (F.col("_bin_l") == F.col("_bin_r"))
        & (F.col(l_start) <= F.col(r_end))
        & (F.col(r_start) <= F.col(l_end))
        & (floordiv(f"greatest({l_start}, {r_start})") == F.col("_bin_l"))
    )
    drop = ["_bin_l", "_bin_r"]
    if hot_bin_threshold is not None:
        s = int(hot_bin_salts)

        def hot_of(df: DataFrame, bin_col: str) -> DataFrame:
            return (
                df.groupBy(bin_col)
                .count()
                .filter(F.col("count") > int(hot_bin_threshold))
                .select(F.col(bin_col).alias("_hot_bin"))
            )

        if hot_bin_sides == "left":
            hot = hot_of(lb, "_bin_l")
        elif hot_bin_sides == "right":
            hot = hot_of(rb, "_bin_r")
        else:
            hot = (
                hot_of(lb, "_bin_l")
                .unionAll(hot_of(rb, "_bin_r"))
                .distinct()
            )
        lb = (
            lb.join(
                F.broadcast(hot), lb["_bin_l"] == hot["_hot_bin"], "left"
            )
            .withColumn(
                "_salt_l",
                F.when(
                    F.col("_hot_bin").isNotNull(),
                    F.pmod(F.monotonically_increasing_id(), F.lit(s)),
                ).otherwise(F.lit(0)),
            )
            .drop("_hot_bin")
        )
        rb = (
            rb.join(
                F.broadcast(hot), rb["_bin_r"] == hot["_hot_bin"], "left"
            )
            .withColumn(
                "_salt_r",
                F.explode(
                    F.when(
                        F.col("_hot_bin").isNotNull(),
                        F.sequence(F.lit(0), F.lit(s - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("_hot_bin")
        )
        cond = cond & (F.col("_salt_l") == F.col("_salt_r"))
        drop += ["_salt_l", "_salt_r"]
    return lb.join(rb, cond, "inner").drop(*drop)


# sqrt of the explode-row : hash-probe cost ratio. The raw cost model
# prices one exploded+shuffled row equal to one codegen hash probe; in
# the measured W matrix (SCALING.md r12) the optimum sits ~1 decade of W
# above the raw optimum at every density, i.e. a shuffled row costs
# ~2 orders of magnitude more than a probe — physically plausible
# (~100 B through serialize/write/read vs an in-memory comparison). The
# basin is shallow (±5x in W moves wall <2x), so the constant needs to
# be order-of-magnitude right, not tuned.
_EXPLODE_COST_RATIO_SQRT = 10


class OverlapPlan(NamedTuple):
    """Full auto-plan for ``overlap_join_binned`` from one aggregate over
    the interval table — width, explode budget, and the hot-bin salting
    decision (VERDICT r12 item 3: the flash-crowd geometry is precisely
    when nobody is reading docstrings, so the skew lever must arm
    itself data-proportionally, not via a manual knob)."""

    bin_width: int
    max_bins_per_row: int
    hot_bin_threshold: int
    hot_bin_salts: int


# Hot-bin arming constants. A bin is declared hot when its exploded
# population exceeds max(floor, multiplier × expected):
#   - the FLOOR is work-based: below ~10k rows a bin's |pop|² probe work
#     is ≤1e8 comparisons — roughly one task-second of codegen probes —
#     so salting it buys nothing and the replication tax is pure loss
#     (the same 10k cut measured the 80k-bin drain at 13.0 s under 32
#     salts vs 81-91 s with AQE's skew join, on or off — SCALING.md r12);
#   - the MULTIPLIER keeps dense-but-uniform corpora unsalted: at the
#     cost-model optimum W* every bin carries ~expected rows by
#     construction, so only a bin 8× over its uniform share — a genuine
#     population spike, not model noise — pays the ×salts replication.
# Salt count 32 is the measured plateau of the r12 salts sweep.
_HOT_BIN_MIN_POP = 10_000
_HOT_BIN_EXPECTED_MULT = 8
_HOT_BIN_SALTS = 32


def suggest_overlap_plan(
    intervals: DataFrame,
    start: str,
    end: str,
) -> OverlapPlan:
    """Data-proportional (bin_width, max_bins_per_row, hot_bin_threshold,
    hot_bin_salts) for ``overlap_join_binned`` — one cheap aggregate
    over the interval table, then the closed-form optimum of the
    operator's own cost model (SCALING.md r12): explode cost ≈ c·n·d̄/W
    rows, probe cost ≈ n²·W/T candidates (n intervals, MEAN duration d̄,
    horizon T, c the explode:probe unit-cost ratio). d(total)/dW = 0 →
    **W\\* = sqrt(c)·sqrt(d̄·T/n)**: W shrinks with the square root of
    density growth — exactly the lever the measured W A/B showed paying
    for quadratic density — scaled by the calibrated
    ``_EXPLODE_COST_RATIO_SQRT`` (shuffled rows are ~2 orders costlier
    than codegen probes; see the constant's comment).

    The LONG TAIL sizes the explode BUDGET, not the width: an early
    version floor-clamped W so the longest interval fit a fixed budget,
    and the 1000× run showed that policy letting ONE long session cap
    the resolution for all 95M — candidates blew up ×100+ and the drain
    was killed at >38 min (SCALING.md r12 addendum 2/3). A long
    interval exploding to many bin-rows is linear, honest work already
    priced into the n·d̄/W term; so the returned budget is
    max_dur//W + 2 (the guard still fails loud if data drifts LONGER
    than the probed maximum — its real job), and W stays the mean-based
    optimum. The result set is W-invariant, so auto-sizing is a pure
    plan decision — same contract as the engine's footer-probe
    persist/salt decisions.

    The hot-bin ARMING decision rides along at zero extra Spark jobs:
    the same single aggregate that sizes W also yields n/d̄/horizon,
    from which the expected exploded population of a uniform bin is
    n·(d̄+W)/(horizon+W); the threshold is
    max(:data:`_HOT_BIN_MIN_POP`, :data:`_HOT_BIN_EXPECTED_MULT` ×
    expected). The EXACT per-bin counting stays inside
    ``overlap_join_binned``'s pre-pass — this estimate only places the
    cut line, so a mis-estimate can only mis-price the salting tax,
    never the result set (salting identity is pytest-pinned). With no
    spike, the pre-pass finds no bin over threshold and the plan
    degrades to the unsalted one plus one aggregate."""
    row = intervals.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col(end) - F.col(start)).alias("mean_dur"),
        F.max(F.col(end) - F.col(start)).alias("max_dur"),
        (F.max(end) - F.min(start)).alias("horizon"),
    ).first()
    n = row["n"] or 0
    if n == 0:
        return OverlapPlan(1, 1024, _HOT_BIN_MIN_POP, _HOT_BIN_SALTS)
    mean_dur = max(float(row["mean_dur"] or 0.0), 1.0)
    horizon = max(int(row["horizon"] or 1), 1)
    w = max(
        int(_EXPLODE_COST_RATIO_SQRT * (mean_dur * horizon / n) ** 0.5), 1
    )
    budget = int(row["max_dur"] or 0) // w + 2
    expected_pop = n * (mean_dur + w) / (horizon + w)
    threshold = max(
        _HOT_BIN_MIN_POP, int(_HOT_BIN_EXPECTED_MULT * expected_pop)
    )
    return OverlapPlan(w, budget, threshold, _HOT_BIN_SALTS)


def band_join(
    facts: DataFrame, bands: DataFrame, value: str, lo: str = "lo", hi: str = "hi"
) -> DataFrame:
    """Join each fact row to the band with lo <= value < hi. ``bands`` is
    broadcast (interval tables are small by nature); the non-equi predicate
    runs as a per-partition loop over the handful of bands."""
    return facts.join(
        F.broadcast(bands),
        (F.col(value) >= F.col(lo)) & (F.col(value) < F.col(hi)),
        "inner",
    )
