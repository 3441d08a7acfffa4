"""Inputs of the benchmark.

- :func:`copy_star_corpus` — a private copy of the engine's star-schema
  test corpus, the ten parquet tables the query registry reads. The copy
  gets a fresh directory name, because the engine keys state it builds
  from a corpus (silver tables, IVF indexes) by that name.
- :func:`write_imdb_tsvs` — the three IMDb TSVs ``ImdbEngine.from_tsv``
  ingests, a pure function of the seed, with a heavy-tailed cast size,
  Zipf actor popularity, and the ingest hazards the engine must handle:
  non-acting principals, principals whose ``nconst`` is missing from the
  names file, titles with no acting cast, namesakes (two people, one
  ``primaryName``) and names carrying punctuation and the digit 0.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

# The engine's test corpora sit side by side, one directory per scale
# factor; the engine's default corpus is one of them.
STAR_SCALE = "sf0.01"


def star_source() -> str:
    from imdb_mapreduce_spark.sources import star

    return os.path.join(os.path.dirname(star.default_sf_dir()), STAR_SCALE)


def copy_star_corpus(out_dir: str) -> str:
    """Copy the star tables into ``out_dir``. Only file contents are
    copied: the copy is writable whatever the source's modes."""
    from imdb_mapreduce_spark.sources.star import TABLES

    src = star_source()
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        shutil.copyfile(os.path.join(src, f"{name}.parquet"), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# IMDb-shaped cast graph
# ---------------------------------------------------------------------------

N_TITLES = 6000
N_PEOPLE = 3000
_FIRST = (
    "Ada Bob Cy Dee Eve Fay Gus Hal Ida Jo Kai Lu Max Ned Ola Pia Quin Rex "
    "Sal Tess Uma Vic Wes Xan Yul Zoe"
).split()
_LAST = (
    "Abbot Baker Cruz Diaz Evans Frost Gray Hale Ito Jones Kent Lee Moss "
    "Nash O'Hara Park Quill Reyes Stone Tran Ueda Vance Wolfe Xu Young Zane"
).split()
_NON_ACTING = ("director", "writer", "producer", "composer")


@dataclass
class CastGraph:
    """The generated IMDb inputs plus the edge set the engine should
    derive from them: ``edges`` is the (title, actor) name-pair list after
    the acting filter and both inner joins, one entry per surviving
    principal row (duplicates kept, as the engine's edge table keeps
    them)."""

    edges: list[tuple[str, str]]
    actors_by_popularity: list[str]
    titles_by_popularity: list[str]
    non_actors: list[str]


def _person_names(rng: np.random.Generator, n: int) -> list[str]:
    """Unique ``First X<i> Last`` names; the surname is the last token,
    which the engine's actor display order sorts on."""
    return [
        f"{rng.choice(_FIRST)} {chr(65 + i % 26)}{i} {rng.choice(_LAST)}"
        for i in range(n)
    ]


def write_imdb_tsvs(out_dir: str, seed: int) -> tuple[dict[str, str], CastGraph]:
    """Write ``basics.tsv``, ``principals.tsv`` and ``names.tsv`` for
    ``seed``; return their paths and the expected cast graph."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    names = _person_names(rng, N_PEOPLE)
    # namesakes: every 97th person takes the name of an earlier one
    for i in range(97, N_PEOPLE, 97):
        names[i] = names[int(rng.integers(0, i))]
    titles = [f"Film {i} {rng.choice(_LAST)}{'!' if i % 11 == 0 else ''}" for i in range(N_TITLES)]
    # a few remakes share an original title, so their movie vertices merge
    for i in range(500, N_TITLES, 500):
        titles[i] = titles[i - 250]
    # heavy-tailed popularity: a Zipf weight over a random rank order
    rank = rng.permutation(N_PEOPLE)
    weight = 1.0 / (rank + 1.0) ** 0.85
    weight /= weight.sum()
    # people with no acting credits (directors, writers, ...) and ids
    # that the names file never lists
    non_actor_ids = set(rng.choice(N_PEOPLE, 200, replace=False).tolist())
    actor_p = weight.copy()
    actor_p[list(non_actor_ids)] = 0.0
    actor_p /= actor_p.sum()

    basics = ["tconst\ttitleType\tprimaryTitle\toriginalTitle\tisAdult\tstartYear\tendYear\truntimeMinutes\tgenres"]
    principals = ["tconst\tordering\tnconst\tcategory\tjob\tcharacters"]
    edges: list[tuple[str, str]] = []
    unknown = N_PEOPLE + 1000
    for t in range(N_TITLES):
        tconst = f"tt{t + 1:07d}"
        basics.append(
            f"{tconst}\tmovie\tP{t}\t{titles[t]}\t0\t{1950 + t % 70}\t\\N\t{80 + t % 60}\tDrama,Comedy"
        )
        # heavy-tailed cast size: mostly 1-5, a few ensembles up to 30
        size = 0 if t % 113 == 0 else min(30, int(rng.zipf(2.3)) + int(rng.integers(0, 3)))
        cast = rng.choice(N_PEOPLE, size=size, replace=False, p=actor_p) if size else []
        order = 1
        for p in cast:
            cat = "actor" if rng.random() < 0.55 else "actress"
            principals.append(f"{tconst}\t{order}\tnm{p + 1:07d}\t{cat}\t\\N\t\\N")
            edges.append((titles[t], names[p]))
            order += 1
        for _ in range(int(rng.integers(1, 3))):
            p = int(rng.choice(list(non_actor_ids)))
            cat = _NON_ACTING[int(rng.integers(0, len(_NON_ACTING)))]
            principals.append(f"{tconst}\t{order}\tnm{p + 1:07d}\t{cat}\t{cat}\t\\N")
            order += 1
        if t % 37 == 0:
            principals.append(f"{tconst}\t{order}\tnm{unknown + t:07d}\tactor\t\\N\t\\N")
    people = [
        f"nm{i + 1:07d}\t{names[i]}\t{1930 + i % 70}\t\\N\tactor\t\\N" for i in range(N_PEOPLE)
    ]
    paths = {
        "basics": os.path.join(out_dir, "basics.tsv"),
        "principals": os.path.join(out_dir, "principals.tsv"),
        "names": os.path.join(out_dir, "names.tsv"),
    }
    for key, lines in (("basics", basics), ("principals", principals), ("names", people)):
        with open(paths[key], "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")

    actor_deg: dict[str, int] = {}
    title_deg: dict[str, int] = {}
    for title, actor in edges:
        actor_deg[actor] = actor_deg.get(actor, 0) + 1
        title_deg[title] = title_deg.get(title, 0) + 1
    graph = CastGraph(
        edges=edges,
        actors_by_popularity=sorted(actor_deg, key=lambda a: (-actor_deg[a], a)),
        titles_by_popularity=sorted(title_deg, key=lambda m: (-title_deg[m], m)),
        non_actors=sorted({names[i] for i in non_actor_ids} - set(actor_deg)),
    )
    return paths, graph
