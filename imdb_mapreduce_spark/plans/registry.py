"""Query registry: the single source of truth behind ``__spark_entry__``.

Every operator from SURVEY.md §2 (and every [NORTH-STAR] pipeline operator)
registers here as a named ``Query``: a PySpark builder ``(spark, sf_dir) →
DataFrame`` plus, when SQL-expressible, the equivalent ANSI SQL the DuckDB
oracle runs on the same parquet tables. The driver hash-compares the two at
sf=0.01 (row count + schema + order-insensitive value hash).

Cross-engine determinism rules used throughout:
- every computed column is aliased IDENTICALLY in Spark and SQL;
- floating-point aggregation goes through exact DECIMAL arithmetic and is
  cast back to DOUBLE at the end — summation order then cannot change the
  result between engines (rounding a finite double to DECIMAL(38,6) is a
  deterministic function of the value in both, so both sum identical
  decimals exactly);
- arrays are emitted as sorted, comma-joined strings (list hashing across
  engines is representation-sensitive);
- window / top-k orderings always carry a unique tiebreak column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    spark_fn: SparkFn
    oracle: str | None  # ANSI SQL for DuckDB; None → driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[SparkFn], SparkFn]:
    """Decorator: register a query builder under ``name``."""

    def deco(fn: SparkFn) -> SparkFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, tags, doc or (fn.__doc__ or ""))
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Import all query modules (side-effect registration) and return them.

    The returned dict iterates in registration order, the order in which
    the ``@register`` decorators ran.
    """
    # Imports deferred so a syntax error in one module surfaces clearly and
    # the registry works from a bare `import registry`.
    from imdb_mapreduce_spark.plans import (  # noqa: F401
        relational,
        events,
        graph_queries,
        analytics,
        temporal_queries,
        quality,
    )
    from imdb_mapreduce_spark.pipeline import (  # noqa: F401
        curation,
        dedup,
        similarity,
        text,
        multimodal,
    )
    from imdb_mapreduce_spark.streaming import jobs  # noqa: F401

    return dict(_REGISTRY)
