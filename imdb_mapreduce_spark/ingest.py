"""IMDb ETL: three TSVs → one silver ``cast_edges`` table.

This single declarative plan replaces the reference's entire ingestion
machinery (SURVEY.md §3.2): the per-line scatter
(``/root/reference/src/master/dataInit.erl:151-158``), the N+1 blocking
name lookups (``src/server/server.erl:290-291`` → ``master.erl:89-95``),
the incremental ETS upserts (``server.erl:140-148``) and the re-key +
empty-cast purge (``server.erl:415-423``).

Design stance (SURVEY.md §7): ONE edge table. The reference stores the
bipartite movie↔actor graph twice (movie→cast and actor→movies inverted
indexes, ``server.erl:57-58``); in Spark both views are a ``groupBy`` away
from the same normalized edge list, so the second copy disappears.

Scale notes (100 TB posture):
- names is a dimension (~14M rows full IMDb, ~600 MB) → broadcast-join it;
  if it ever outgrows broadcast, AQE falls back to shuffle join with no code
  change.
- the principals⋈titles join shuffles both sides on tconst — at full scale,
  persist ``cast_edges`` bucketed by its most-queried key instead of
  re-shuffling per query.
- the actor/actress filter runs BEFORE either join (Catalyst pushes it into
  the scan), cutting the shuffled volume ~60%.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


ACTING_CATEGORIES = ("actor", "actress")


def build_cast_edges(
    titles: DataFrame, principals: DataFrame, names: DataFrame
) -> DataFrame:
    """Normalized edge list ``(tconst, title, actor)`` of the bipartite graph.

    Semantics preserved from the reference:
    - keep only acting principals (filter F4, ``server.erl:136``);
    - unknown nconst dropped — inner-join (F7, ``server.erl:137-138``);
    - titles keyed by *original* title string (``server.erl:264``);
    - titles with no surviving cast are absent (empty-cast purge F6,
      ``server.erl:416``) — implicit in inner-join semantics.
    """
    acting = principals.filter(F.col("category").isin(*ACTING_CATEGORIES)).select(
        "tconst", "nconst"
    )
    with_names = acting.join(
        F.broadcast(names.select("nconst", "primary_name")), "nconst", "inner"
    )
    return with_names.join(
        titles.select("tconst", "original_title"), "tconst", "inner"
    ).select(
        F.col("tconst"),
        F.col("original_title").alias("title"),
        F.col("primary_name").alias("actor"),
    )


def movie_to_cast(cast_edges: DataFrame) -> DataFrame:
    """Adjacency view title → sorted cast array (reference ``titles_db``
    phase 2, ``server.erl:415-423``; group-collect A2)."""
    return cast_edges.groupBy("title").agg(
        F.sort_array(F.collect_set("actor")).alias("cast")
    )


def actor_to_movies(cast_edges: DataFrame) -> DataFrame:
    """Adjacency view actor → sorted titles array (reference ``actors_db``,
    ``server.erl:140-148``; group-collect A1). Same edge table, grouped the
    other way — no second physical copy."""
    return cast_edges.groupBy("actor").agg(
        F.sort_array(F.collect_set("title")).alias("titles")
    )
