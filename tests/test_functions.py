"""Column-function library + hypothesis property tests (SURVEY.md §5.3)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from imdb_mapreduce_spark.functions.columns import (
    bucket_of,
    last_token,
    salted_collect_set,
    sanitized_identifier,
    strip_id_prefix,
)


def test_scalar_surface(spark):
    df = spark.createDataFrame(
        [("tt0000042", "John Q. Smith 0", "a b-c!0")], ["id", "name", "junk"]
    )
    row = df.select(
        strip_id_prefix("id").alias("i"),
        last_token("name").alias("t"),
        sanitized_identifier("junk").alias("s"),
        bucket_of("id", 8).alias("b"),
    ).collect()[0]
    assert row["i"] == 42
    assert row["t"] == "0"
    assert row["s"] == "a_b_c_0"  # digit 0 preserved (reference bug fixed)
    assert 0 <= row["b"] < 8


def test_salted_collect_equals_direct(spark):
    # One hot key with many values + several normal keys: salted two-phase
    # collect must equal the direct aggregate exactly.
    rows = [("hot", f"v{i}") for i in range(500)] + [
        (f"k{i % 7}", f"w{i}") for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["k", "v"])
    direct = {
        r["k"]: sorted(r["vals"])
        for r in df.groupBy("k").agg(F.collect_set("v").alias("vals")).collect()
    }
    salted = {
        r["k"]: list(r["vals"])
        for r in salted_collect_set(df, "k", "v", "vals").collect()
    }
    assert salted == direct


def test_salted_running_stats_equals_unsalted(spark):
    """The SCALE.md ordered-window salting pattern, exercised on a
    genuinely skewed key: one user owns 50% of the events, spread over 6
    day-chunks. The salted two-phase plan must be BITWISE equal to the
    unsalted window (exact DECIMAL carry), and phase 1 must actually
    partition on (key, chunk) — that is the skew relief."""
    import datetime as dt
    import io
    import random
    from contextlib import redirect_stdout

    from imdb_mapreduce_spark.functions.columns import salted_running_stats

    rng = random.Random(7)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for eid in range(1200):
        user = 1 if eid % 2 == 0 else 2 + (eid % 37)  # user 1 = half the rows
        t = base + dt.timedelta(
            days=rng.randrange(6), seconds=rng.randrange(86400)
        )
        rows.append((eid, t, user, round(rng.uniform(-50, 50), 2)))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )

    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unsalted = df.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("seq"),
        F.lag("value").over(w).alias("prev_value"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .over(wf)
        .cast("double")
        .alias("running_value"),
    )
    salted = salted_running_stats(df)

    key = lambda r: r["event_id"]  # noqa: E731
    exp = sorted(unsalted.collect(), key=key)
    got = sorted(salted.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]

    buf = io.StringIO()
    with redirect_stdout(buf):
        salted.explain("formatted")
    plan = buf.getvalue()
    # phase-1 exchange carries the chunk: the hot key's rows spread over
    # one task per (user, day) instead of one task total
    assert "hashpartitioning(user_id" in plan and "_chunk" in plan
    # sanity: the skew actually spans chunks for the hot user
    n_chunks = (
        df.filter(F.col("user_id") == 1)
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .count()
    )
    assert n_chunks >= 5


# -- hypothesis property tests ---------------------------------------------

@st.composite
def id_strings(draw):
    prefix = draw(st.sampled_from(["tt", "nm"]))
    num = draw(st.integers(min_value=0, max_value=99_999_999))
    return prefix + str(num).zfill(7), num


@given(st.lists(id_strings(), min_size=1, max_size=20, unique_by=lambda t: t[0]))
@settings(max_examples=10, deadline=None)
def test_id_parse_roundtrip(spark, ids):
    """X2 parser inverts the tt/nm zero-padded formatting for any id."""
    df = spark.createDataFrame([(s,) for s, _ in ids], ["id"])
    got = [r[0] for r in df.select(strip_id_prefix("id")).collect()]
    assert got == [n for _, n in ids]


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 5)),
        min_size=1,
        max_size=60,
    ),
    st.integers(2, 4),
)
@settings(max_examples=8, deadline=None)
def test_bfs_invariants(spark, raw_edges, level):
    """BFS invariants for arbitrary bipartite graphs: result is a tree
    (each vertex one incoming edge), root never a dst, no dst repeats,
    levels within bounds (SURVEY §5.3)."""
    from imdb_mapreduce_spark.operators.graph import Adjacency, costar_bfs
    from imdb_mapreduce_spark.operators.graph_export import sorted_vertices

    # string vias: a lookup's key set is an array<string> literal
    edges = spark.createDataFrame(
        [(f"n{a}", f"v{b}") for a, b in raw_edges], ["actor", "title"]
    )
    root = f"n{raw_edges[0][0]}"
    rows = costar_bfs(Adjacency(edges), root, "actor", level)
    dsts = [dst for _, dst, _ in rows]
    assert len(dsts) == len(set(dsts))  # visited-set: unique vertices
    assert root not in dsts  # root never re-discovered
    assert all(1 <= lvl <= level - 1 for _, _, lvl in rows)
    # tree: every edge's parent is the root or an earlier child
    assert set(sorted_vertices(root, "actor", rows)) == set(dsts) | {root}
