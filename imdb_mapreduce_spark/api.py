"""User-facing engine API — the drop-in replacement for the reference's
client surface.

Reference lifecycle (SURVEY.md §3): start master + workers, stream three
TSVs through the scatter protocol, then issue
``#request{name, type ∈ {movie, actor}, level ∈ 1..4}`` via the GUI client
(``/root/reference/src/client/client.erl:80-94``) and receive
``{Vertices, Edges}`` (``src/master/master.erl:261-263``) plus a rendered
PNG. Here the same session is:

    eng = ImdbEngine.from_tsv(spark, basics, principals, names)   # "ingest"
    vertices, edges = eng.request("Name", "actor", level=3)        # query
    eng.to_dot("Name", "actor", level=3)                           # render

Both answer from the engine's :class:`Adjacency` (the reference's two
in-RAM inverted indexes), so a ``to_dot`` after its ``request`` runs no
Spark job; on a graph within ``ADJACENCY_MAX_VALUES`` no request after
the engine's first level-≥2 one runs a job.

plus the persistence the reference got from snapshot replication:
``eng.save(path)`` / ``ImdbEngine.load(spark, path)``.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from imdb_mapreduce_spark.ingest import (
    actor_to_movies,
    build_cast_edges,
    movie_to_cast,
)
from imdb_mapreduce_spark.operators import graph_export
from imdb_mapreduce_spark.operators.graph import (
    COSTAR_COLS,
    Adjacency,
    degree_stats,
)
from imdb_mapreduce_spark.operators.graph import costar_bfs
from imdb_mapreduce_spark.operators.lookup import cast_of, movies_of
from imdb_mapreduce_spark.sources.imdb import (
    read_names_tsv,
    read_prejoined_csv,
    read_principals_tsv,
    read_titles_tsv,
)


class ImdbEngine:
    """The engine over one silver ``cast_edges`` table (tconst, title,
    actor). Keep ``cache=True`` for interactive query latency (the
    reference holds everything in ETS RAM; we make that an explicit,
    droppable choice)."""

    def __init__(self, cast_edges: DataFrame, cache: bool = True):
        self.cast_edges = cast_edges.cache() if cache else cast_edges
        # the two inverted indexes request() reads: loaded in full with
        # the degrees when the graph fits ADJACENCY_MAX_VALUES, else
        # filled key by key as requests read them
        self.adjacency = Adjacency(self.cast_edges)
        self._degrees: dict[str, float] = {}  # per query direction, on first use
        self._degrees_lock = threading.Lock()  # the service's handler threads

    # -- construction ------------------------------------------------------

    @classmethod
    def from_tsv(
        cls,
        spark: SparkSession,
        basics_path: str,
        principals_path: str,
        names_path: str,
        cache: bool = True,
    ) -> "ImdbEngine":
        """The three-file ETL (reference §3.2, minus the scatter protocol)."""
        edges = build_cast_edges(
            read_titles_tsv(spark, basics_path),
            read_principals_tsv(spark, principals_path),
            read_names_tsv(spark, names_path),
        )
        return cls(edges, cache=cache)

    @classmethod
    def from_prejoined(
        cls, spark: SparkSession, path: str, cache: bool = True
    ) -> "ImdbEngine":
        """The step0 pre-joined path (reference §3.3): title→cast CSV."""
        from pyspark.sql import functions as F

        wide = read_prejoined_csv(spark, path)
        # id assigned BEFORE the explode: Catalyst evaluates expressions in
        # the same select above the Generate, which would mint a distinct
        # id per exploded (title, actor) row instead of per title
        edges = wide.withColumn("tconst", F.monotonically_increasing_id()).select(
            "tconst", "title", F.explode("cast").alias("actor")
        )
        return cls(edges, cache=cache)

    @classmethod
    def load(cls, spark: SparkSession, path: str, cache: bool = True) -> "ImdbEngine":
        return cls(spark.read.parquet(path), cache=cache)

    def save(self, path: str) -> None:
        self.cast_edges.write.mode("overwrite").parquet(path)

    # -- queries (the reference's full interactive surface) ----------------

    # Service-grade request budget (VERDICT r05 item 8): the traversal
    # aborts between rounds once it has reached this many vertices — the
    # bounded-failure analog of the reference master's 10 s pcall timeout
    # (master.erl:240). A request that would collect an unbounded graph
    # fails fast with a clear error instead of stalling the service.
    REQUEST_MAX_VERTICES = 100_000

    def request(
        self,
        name: str,
        node_type: str = "actor",
        level: int = 2,
        max_vertices: int | None = REQUEST_MAX_VERTICES,
    ) -> tuple[list[str], list[tuple[str, str, int]]]:
        """The flagship query, reference reply shape ``{Vertices, Edges}``
        (``master.erl:263``): display-sorted vertices + (src, dst, level)
        edges. The rounds are driver-side point lookups on the engine's
        :class:`Adjacency`, bounded by the ``max_vertices`` budget
        (``None`` is an explicitly unbounded batch use). The engine's
        first level-≥2 request runs the degree aggregate and, on a graph
        within ``ADJACENCY_MAX_VALUES``, the one collect that loads the
        whole index, after which no request runs a job. Past that bound
        keys an earlier request fetched cost no job, the rest at most two
        bounded collects per round on the cached edge table."""
        edges = costar_bfs(
            self.adjacency,
            name,
            node_type,
            level,
            max_vertices=max_vertices,
            degree=self._degree(node_type, level),
        )
        return graph_export.sorted_vertices(name, node_type, edges), edges

    def _degree(self, node_type: str, level: int = 2) -> float | None:
        """:func:`degree_stats`' average degree of a query direction. One
        aggregate per engine computes both directions and the edge count,
        with which the adjacency is then filled (:meth:`Adjacency.fill`).
        None when no round runs (level 1) or the direction is unknown
        (``costar_bfs`` rejects it)."""
        if level < 2 or node_type not in COSTAR_COLS:
            return None
        with self._degrees_lock:
            if not self._degrees:
                node_cols = {kind: col for kind, (col, _) in COSTAR_COLS.items()}
                n, degrees = degree_stats(self.cast_edges, list(node_cols.values()))
                self.adjacency.fill(n)
                self._degrees = {kind: degrees[c] for kind, c in node_cols.items()}
            return self._degrees[node_type]

    def cast_of(self, title: str) -> DataFrame:
        return cast_of(self.cast_edges, title)

    def movies_of(self, actor: str) -> DataFrame:
        return movies_of(self.cast_edges, actor)

    def movie_adjacency(self) -> DataFrame:
        """title → sorted cast array (reference ``titles_db`` view)."""
        return movie_to_cast(self.cast_edges)

    def actor_adjacency(self) -> DataFrame:
        """actor → sorted titles array (reference ``actors_db`` view)."""
        return actor_to_movies(self.cast_edges)

    def to_dot(self, name: str, node_type: str = "actor", level: int = 2) -> str:
        """DOT text of :meth:`request`'s reply, under the same
        ``REQUEST_MAX_VERTICES`` budget: the reference renders the graph it
        replies with (``master.erl:267-283``), minus the GraphViz
        shell-out, which stays outside the engine. Over budget it raises
        ``BfsBudgetExceeded`` as :meth:`request` does."""
        _, edges = self.request(
            name, node_type, level, max_vertices=self.REQUEST_MAX_VERTICES
        )
        return graph_export.to_dot(name, node_type, edges)

    def unpersist(self) -> None:
        self.cast_edges.unpersist()
        self.adjacency.clear()
