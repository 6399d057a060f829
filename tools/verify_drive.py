"""One-command verify drive: (1) E2E library run over a generated xlsx
workbook, (2) every ``queries()`` entry executed at the given sf and
compared with its DuckDB oracle by tools/parity.py (row count, columns,
value hash).

Usage: python tools/verify_drive.py [sf_dir]   (default sf0.001)
Exit code 0 = everything ran and matched.
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import parity  # noqa: E402
from etl_excel_to_hyper_tableau_spark import (  # noqa: E402
    QueryBundle, QueryEngine, get_spark,
)
from etl_excel_to_hyper_tableau_spark.sources import xlsx_io  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark()

    # 1. library E2E: workbook in → engine → workbook out
    d = tempfile.mkdtemp(prefix="verify_")
    xlsx_io.write_workbook(f"{d}/data.xlsx",
                           [("Sheet1", ["a", "b"], [[1, "x"], [2, "y"]])])
    b = QueryBundle.from_strings(
        "o", "excel", ["data"], ["Sheet1"],
        ["SELECT a, COUNT(a) AS n FROM Sheet1.sheet GROUP BY a"], ["q"])
    out = QueryEngine(spark, d, [b], d).process_queries()
    assert out, "library E2E produced no output"
    print(f"E2E drive ok: {out}")

    # 2. every queries() entry runs and matches its oracle
    bad = parity.sweep(spark, sf)
    print(f"bad: {bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
