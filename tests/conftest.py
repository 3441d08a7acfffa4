"""Shared fixtures: one SparkSession per test session + IMDb-shaped
fixture files (FIXTURES.md §A content requirements)."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from imdb_mapreduce_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


def two_hop_bfs(pairs, root, level, max_vertices=None, degree=None) -> list[tuple]:
    """Pure-Python reference for the co-star BFS rules over ``(node, via)``
    pairs: level k = k-1 two-hop rounds, one global visited set, each child
    attached to its minimum discovering parent. With ``max_vertices`` a
    round is refused before it runs when frontier x ``degree``² exceeds
    ``max_vertices`` x ``BFS_WORK_SLACK``, and after it when the visited
    set exceeds ``max_vertices``. Returns the (level, src, dst)-sorted
    ``(src, dst, level)`` edges."""
    from collections import defaultdict

    from imdb_mapreduce_spark.operators.graph import BFS_WORK_SLACK, BfsBudgetExceeded

    vias, nodes = defaultdict(set), defaultdict(set)
    for node, via in pairs:
        vias[node].add(via)
        nodes[via].add(node)
    visited, frontier, out = {root}, {root}, []
    for lvl in range(1, level):
        if max_vertices is not None:
            est = len(frontier) * degree * degree
            if est > max_vertices * BFS_WORK_SLACK:
                raise BfsBudgetExceeded(int(est), max_vertices, lvl, estimated=True)
        children: dict = {}
        for parent in frontier:
            for via in vias[parent]:
                for child in nodes[via] - visited:
                    children[child] = min(parent, children.get(child, parent))
        if not children:
            break
        visited.update(children)
        out += [(src, dst, lvl) for dst, src in children.items()]
        if max_vertices is not None and len(visited) > max_vertices:
            raise BfsBudgetExceeded(len(visited), max_vertices, lvl)
        frontier = set(children)
    return sorted(out, key=lambda e: (e[2], e[0], e[1]))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


# ---------------------------------------------------------------------------
# IMDb TSV fixtures (FIXTURES.md §A): cover the actor/actress filter, the
# unknown-nconst drop, the empty-cast purge, a duplicate primaryName
# collision, shared actors/titles for BFS levels, and names containing
# non-alphanumerics + the digit 0 (DOT sanitizer).
# ---------------------------------------------------------------------------

TITLES_TSV = """tconst\ttitleType\tprimaryTitle\toriginalTitle\tisAdult\tstartYear\tendYear\truntimeMinutes\tgenres
tt0000001\tmovie\tAlpha\tAlpha Zero 0\t0\t1990\t\\N\t100\tDrama,Comedy
tt0000002\tmovie\tBeta\tBeta!\t0\t1992\t\\N\t90\tDrama
tt0000003\tmovie\tGamma\tGamma\t0\t1993\t\\N\t95\tAction
tt0000004\tmovie\tDelta\tDelta\t0\t1994\t\\N\t80\t\\N
tt0000005\tmovie\tEpsilon\tEpsilon\t1\t1995\t\\N\t\\N\tHorror
"""

# t1: actors A,B ; t2: actors B,C ; t3: actor C + a director (filtered) +
# an unknown nconst (dropped); t4: only a director → purged (empty cast);
# t5: actor D (namesake of A's name) — name-collision case.
PRINCIPALS_TSV = """tconst\tordering\tnconst\tcategory\tjob\tcharacters
tt0000001\t1\tnm0000001\tactor\t\\N\t["X"]
tt0000001\t2\tnm0000002\tactress\t\\N\t["Y"]
tt0000002\t1\tnm0000002\tactress\t\\N\t\\N
tt0000002\t2\tnm0000003\tactor\t\\N\t\\N
tt0000003\t1\tnm0000003\tactor\t\\N\t\\N
tt0000003\t2\tnm0000009\tdirector\tdirector\t\\N
tt0000003\t3\tnm0000404\tactor\t\\N\t\\N
tt0000004\t1\tnm0000009\tdirector\tdirector\t\\N
tt0000005\t1\tnm0000004\tactor\t\\N\t\\N
"""

# NO header row (reference quirk: its loader skips line 1 anyway — a bug we
# do not replicate; first line here is real data and must survive).
# nm0000004 shares primaryName with nm0000001 (collision case).
NAMES_TSV = """nm0000001\tJohn Q. Smith 0\t1950\t\\N\tactor,producer\ttt0000001,tt0000002
nm0000002\tJane Doe\t1960\t\\N\tactress\ttt0000001
nm0000003\tBob O'Hara\t1955\t2020\tactor\ttt0000002
nm0000004\tJohn Q. Smith 0\t1970\t\\N\tactor\ttt0000005
nm0000009\tDirector Dan\t1940\t\\N\tdirector\t\\N
"""


@pytest.fixture(scope="session")
def imdb_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("imdb")
    (d / "basics.tsv").write_text(TITLES_TSV)
    (d / "principals.tsv").write_text(PRINCIPALS_TSV)
    (d / "names.tsv").write_text(NAMES_TSV)
    return str(d)


@pytest.fixture(scope="session")
def cast_edges(spark, imdb_dir):
    from imdb_mapreduce_spark.ingest import build_cast_edges
    from imdb_mapreduce_spark.sources.imdb import (
        read_names_tsv,
        read_principals_tsv,
        read_titles_tsv,
    )

    titles = read_titles_tsv(spark, f"{imdb_dir}/basics.tsv")
    principals = read_principals_tsv(spark, f"{imdb_dir}/principals.tsv")
    names = read_names_tsv(spark, f"{imdb_dir}/names.tsv")
    return build_cast_edges(titles, principals, names).cache()
