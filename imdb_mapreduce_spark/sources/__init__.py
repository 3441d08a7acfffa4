from imdb_mapreduce_spark.sources.star import TABLES, load_table
from imdb_mapreduce_spark.sources.imdb import (
    read_names_tsv,
    read_principals_tsv,
    read_titles_tsv,
    read_prejoined_csv,
)

__all__ = [
    "TABLES",
    "load_table",
    "read_names_tsv",
    "read_principals_tsv",
    "read_titles_tsv",
    "read_prejoined_csv",
]
