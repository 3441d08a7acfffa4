"""Sources & sinks (SURVEY.md §2.1): prejoined step0 path, TSV adjacency
sink round-trip, the engine's parquet snapshot/restore."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from imdb_mapreduce_spark.ingest import movie_to_cast
from imdb_mapreduce_spark.sources.imdb import read_prejoined_csv
from imdb_mapreduce_spark.sources.sinks import write_adjacency_tsv


def test_prejoined_step0_path(spark, tmp_path):
    # sort_data.py output shape: title \t comma-joined cast (S4)
    f = tmp_path / "sorted_data.csv"
    f.write_text(
        "tconst\tnconst\n"
        "Alpha\tJohn Smith, Jane Doe\n"
        "Beta\tJane Doe\n"
    )
    df = read_prejoined_csv(spark, str(f))
    rows = {r["title"]: r["cast"] for r in df.collect()}
    assert rows["Alpha"] == ["John Smith", "Jane Doe"]
    assert rows["Beta"] == ["Jane Doe"]

    # the synthetic tconst must identify the TITLE: one id per title even
    # after the cast explode (id assigned below the Generate would mint a
    # distinct id per (title, actor) row)
    from imdb_mapreduce_spark.api import ImdbEngine

    edges = ImdbEngine.from_prejoined(spark, str(f), cache=False).cast_edges
    per_title = {
        r["title"]: r["ids"]
        for r in edges.groupBy("title")
        .agg(F.countDistinct("tconst").alias("ids"))
        .collect()
    }
    assert per_title == {"Alpha": 1, "Beta": 1}


def test_adjacency_tsv_sink_roundtrip(cast_edges, tmp_path, spark):
    # K1: key \t v1, v2, ... — the reference's tab2file (server.erl:379-389)
    adj = movie_to_cast(cast_edges)
    out = str(tmp_path / "movies_tsv")
    write_adjacency_tsv(adj, "title", "cast", out)
    files = glob.glob(f"{out}/part-*")
    assert files
    lines = sorted(
        line
        for fpath in files
        for line in open(fpath).read().splitlines()
        if line
    )
    assert lines[0].startswith("Alpha Zero 0\t")
    assert "Jane Doe, John Q. Smith 0" in lines[0]


def test_parquet_snapshot_restore(cast_edges, tmp_path, spark):
    # K2: ets:tab2file/file2tab → ImdbEngine.save/load, a parquet round trip
    from imdb_mapreduce_spark.api import ImdbEngine

    path = str(tmp_path / "snap")
    ImdbEngine(cast_edges, cache=False).save(path)
    back = ImdbEngine.load(spark, path, cache=False).cast_edges
    assert back.schema == cast_edges.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, cast_edges.collect()))


def test_parquet_footer_stat_probes(spark, tmp_path):
    """parquet_column_min/max: exact for integer columns, None for string
    columns (whose row-group stats may be truncated bounds, not values),
    None for missing columns — the contract snapshot_diff/copurchase_sssp
    rely on for their scale-proof scalars."""
    import pandas as pd

    from imdb_mapreduce_spark.sources.star import (
        parquet_column_max,
        parquet_column_min,
    )

    p = str(tmp_path / "probe.parquet")
    pd.DataFrame(
        {"k": [5, 2, 9, 7], "s": ["aa", "zz", "mm", "bb"]}
    ).to_parquet(p)
    assert parquet_column_max(p, "k") == 9
    assert parquet_column_min(p, "k") == 2
    assert parquet_column_max(p, "s") is None  # string stats refused
    assert parquet_column_min(p, "s") is None
    assert parquet_column_max(p, "nope") is None  # missing column
