"""imdb_mapreduce_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query & data-processing capabilities of
the reference repo ``RubenFr-zz/IMDB_MapReduce`` (an Erlang/OTP distributed
key→adjacency-list store over IMDb data; see SURVEY.md), re-designed
Spark-first:

- the reference's two mutually-inverted ETS adjacency tables
  (``/root/reference/src/server/server.erl:57-58``) become ONE silver
  ``cast_edges`` DataFrame viewed two ways (``ingest.py``);
- its scatter/hash-route protocol (``dataInit.erl:151-158``) becomes Spark's
  shuffle; its N+1 name lookups (``server.erl:290-291``) become one broadcast
  hash join; its snapshot replication becomes lineage + parquet checkpoints;
- its single interactive query — the k-level co-star BFS
  (``master.erl:251-288``) — becomes driver-side rounds of bounded point
  lookups on a cache of those two views (``operators/graph.py``).

Beyond reference parity the package adds the LLM-data-pipeline operator
surface (dedup, similarity search, text analysis, multimodal columns,
streaming) designed for 100 TB scale: declarative DataFrame plans, broadcast
small dims, partial aggregation, no driver-side materialization except
bounded results.
"""

from imdb_mapreduce_spark.session import get_spark, stop_spark

__all__ = ["get_spark", "stop_spark"]
__version__ = "0.1.0"
