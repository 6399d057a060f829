"""Local stand-in for the driver's t2 correctness gate: run every
``queries()`` entry through Spark AND its ``oracle_sql()`` through
DuckDB on the same parquet, compare row count, column names and an
order-insensitive value hash.

:func:`compare` is the one Spark-vs-oracle comparison;
tests/test_oracle_parity.py and tools/verify_drive.py call it too.

Usage: python tools/parity.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry  # noqa: E402
from etl_excel_to_hyper_tableau_spark import get_spark  # noqa: E402


def value_hash(df: pd.DataFrame) -> int:
    df = df[sorted(df.columns)]
    rows = sorted(
        tuple(repr(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    return hash(tuple(rows))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[8]")
    failures = sweep(spark, sf_dir, set(sys.argv[2:]))
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Differences between a Spark result and its oracle result: row
    count, column names, then the value hash (with up to three
    differing rows).  Empty when they match."""
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rows {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    if problems or value_hash(sdf) == value_hash(odf):
        return problems
    problems.append("value-hash mismatch")
    cols = sorted(sdf.columns)
    try:
        a = sdf[cols].sort_values(cols).reset_index(drop=True)
        b = odf[cols].sort_values(cols).reset_index(drop=True)
    except TypeError:  # unorderable cells (arrays): no row listing
        return problems
    for i in range(len(a)):
        ra, rb = list(a.iloc[i]), list(b.iloc[i])
        if [repr(x) for x in ra] != [repr(x) for x in rb]:
            problems.append(f"row {i}: spark={ra} duck={rb}")
            if len(problems) > 3:
                break
    return problems


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with every ``entry.TABLES`` parquet of ``sf_dir`` as a
    view.  Literal-bearing oracles (embedding_whiten) build their
    literals for the sf the oracle will RUN on, so this also points
    them at ``sf_dir``."""
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    con = duckdb.connect()
    for t in entry.TABLES:
        src_pq = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src_pq):  # Spark-written table = a directory
            src_pq += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src_pq}'")
    return con


def sweep(spark, sf_dir: str, only=()) -> list[str]:
    """Compare every ``queries()`` entry (or those in ``only``) with its
    oracle, printing one OK/FAIL line each; returns the failed names."""
    con = oracle_connection(sf_dir)
    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} (no oracle — rows-only check)")
            if len(sdf) == 0:
                failures.append(name)
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            continue
        problems = compare(sdf, odf)
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "\n      ".join(problems))
        else:
            print(f"OK    {name}: {len(sdf)} rows")
    con.close()
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
