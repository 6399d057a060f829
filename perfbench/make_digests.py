"""Regenerate perfbench/digests.json: run each covered headline entry's
``oracle_sql()`` through DuckDB on its data set under perfbench/data and
store the digest of the result.

Usage (from the repository root):  python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
import entries  # noqa: E402
import oracle  # noqa: E402


# data set -> the entries a run on it covers: smoke runs every entry on
# sf0.001, timed runs their workload lists on sf0.01
COVERED = {
    "sf0.001": entries.RELATIONAL + entries.OPERATORS,
    "sf0.01": entries.RELATIONAL + entries.OPERATORS_TIMED,
}


def main() -> int:
    out = {}
    for sf, names in COVERED.items():
        sf_dir = os.path.join(oracle.DATA, sf)
        # literal-bearing oracles build their literals for this data set
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
        sqls = entry.oracle_sql()
        con = duckdb.connect()
        for t in entry.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out[sf] = {name: oracle.digest(con.execute(sqls[name]).fetchdf())
                   for name in names}
        con.close()
        print(f"{sf}: {len(out[sf])} digests", file=sys.stderr)
    with open(oracle.DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
