"""Sinks (SURVEY.md §2.1 K1-K3).

K1/K3 — the reference's human-readable adjacency dump ``key\\tv1, v2, ...``
(``/root/reference/src/server/server.erl:379-389``; pandas equivalent
``sort_data.py:19``). K2 — the binary table snapshot (``server.erl:161,167``)
— is ``ImdbEngine.save``/``load`` in ``api.py``: parquet, because lineage
already gives fault tolerance, so a snapshot is a storage format choice,
not a replication protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_adjacency_tsv(df: DataFrame, key_col: str, list_col: str, path: str) -> None:
    """``key\\tv1, v2, ...`` dump of an adjacency view (K1).

    Sorted within partitions by key for byte-stable output, mirroring the
    ETS ``ordered_set`` iteration order (O3, ``server.erl:57-58``).
    """
    (
        df.select(
            F.col(key_col), F.array_join(F.col(list_col), ", ").alias("vals")
        )
        .sortWithinPartitions(key_col)
        .write.mode("overwrite")
        .options(sep="\t", header="false")
        .csv(path)
    )
