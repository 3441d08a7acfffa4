"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry through Spark AND its ``oracle_sql()``
through DuckDB on the same parquet tables, then compares:
row count, column-name set, and an order-insensitive value comparison
(columns sorted by name, rows sorted by all columns, exact equality —
floats compared bitwise, because that is the strictest thing a value-hash
can do).

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Stable stringification for sorting mixed/NaN columns.
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b and math.copysign(1, a) == math.copysign(1, b)
    if pd.isna(a) and pd.isna(b):
        return True
    try:
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def dtype_kind(series: pd.Series) -> str:
    """Collapse a pandas dtype to the representation kind the driver's
    value hash is sensitive to: int / float / bool / datetime / object.

    Signed vs unsigned ints hash alike (same repr for in-range values),
    so 'i' and 'u' collapse together; everything non-numeric is 'object'
    (strings, lists, Decimals — their repr carries its own type info and
    the per-value comparison below handles them)."""
    k = series.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in "mM":
        return "datetime"
    return "object"


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"columns: spark={scols} oracle={ocols}")
        return problems
    if problems:
        return problems
    s = normalize(sdf)
    o = normalize(odf)
    # Driver-hash parity: the driver's value hash is representation
    # sensitive (r06: DuckDB HUGEINT -> float64 vs Spark int64 hashed
    # differently despite equal values), so a dtype-kind mismatch is a
    # failure even when every value compares equal below. Empty frames
    # are exempt only for object-vs-typed (no values -> no hash input).
    for col in s.columns:
        sk, ok = dtype_kind(s[col]), dtype_kind(o[col])
        if sk != ok and not (len(s) == 0 and "object" in (sk, ok)):
            problems.append(
                f"col {col}: dtype kind mismatch spark={sk}({s[col].dtype}) "
                f"oracle={ok}({o[col].dtype})"
            )
    if problems:
        return problems
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(sv, ov)) if not values_equal(x, y)
        ]
        if bad:
            i, x, y = bad[0]
            problems.append(
                f"col {col}: {len(bad)}/{len(sv)} mismatches, first at row {i}: "
                f"spark={x!r} oracle={y!r}"
            )
    return problems


def main() -> int:
    import __spark_entry__ as entrymod
    from imdb_mapreduce_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check", master="local[8]", shuffle_partitions=8)
    con = duck_connection(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    failed, passed, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            status = "ROWS-ONLY" if len(sdf) > 0 else "ROWS-ONLY(EMPTY!)"
            rows_only.append(name)
            print(f"{status:9s} {name}: {len(sdf)} rows  [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL  {name}: oracle raised {type(e).__name__}: {e}")
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failed.append(name)
            print(f"FAIL  {name} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      - {p}")
        else:
            passed.append(name)
            print(f"PASS  {name}: {len(sdf)} rows  [{time.time()-t0:.1f}s]")

    print(
        f"\n{len(passed)} passed, {len(failed)} failed, {len(rows_only)} rows-only"
        f" @ {sf_dir}"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
