"""The ``excel_etl`` workload's inputs, bundles and output check.

Inputs are workbooks shaped like the reference's ``complaints`` sheet
(FIXTURES.md §1: 18 columns including ``consumer_disputed?``, ~190
companies with a skewed mix, mostly-null optional columns), generated
from a seed.  The program receives only the written ``.xlsx`` files.

Two bundles run through ``QueryEngine.process_queries()``:

* ``excel`` sink: the reference's two golden queries (FIXTURES.md §2:
  pivot union, and match-prefixed horizontal concat) plus a query whose
  bare ``state`` column takes the engine's any_value retry;
* ``parquet`` sink: a wide, row-preserving query.

The check runs the same SQL in stdlib ``sqlite3`` (the reference's own
engine) over the generated rows and compares with what the sinks wrote,
read back through ``xlsx_io`` and pyarrow: pivot outputs as row
multisets, and each file's column block of a horizontal concat as a row
multiset (GROUP BY row order is engine-defined).
"""

from __future__ import annotations

import os
import random
import sqlite3
from collections import Counter

COLUMNS = [
    "date_received", "product", "sub_product", "issue", "sub_issue",
    "consumer_complaint_narrative", "company_public_response", "company",
    "state", "zipcode", "tags", "consumer_consent_provided",
    "submitted_via", "date_sent_to_company", "company_response_to_consumer",
    "timely_response", "consumer_disputed?", "complaint_id",
]

_HEAVY = ["Bank of America", "Wells Fargo & Company", "JPMorgan Chase & Co.",
          "Equifax", "Experian", "Citibank", "TransUnion", "Ocwen",
          "Nationstar Mortgage", "U.S. Bancorp", "Capital One", "Navient",
          "Synchrony Financial", "PNC Bank", "Ditech Financial"]
COMPANIES = _HEAVY + [f"Lender {i:03d}" for i in range(len(_HEAVY), 190)]
_COMPANY_W = [1.0 / (rank + 1) ** 1.1 for rank in range(len(COMPANIES))]
_PRODUCTS = [("Mortgage", 30), ("Debt collection", 20), ("Credit reporting", 18),
             ("Credit card", 12), ("Bank account or service", 9),
             ("Student loan", 4), ("Consumer Loan", 4), ("Payday loan", 1),
             ("Money transfers", 1), ("Prepaid card", 1)]
_SUB_PRODUCTS = ["Other mortgage", "Conventional fixed mortgage", "FHA mortgage",
                 "Checking account", "Medical", "I do not know"]
_ISSUES = ["Loan modification,collection,foreclosure", "Incorrect information on report",
           "Cont'd attempts collect debt not owed", "Account opening, closing, or management",
           "Billing disputes", "Communication tactics", "Deposits and withdrawals"]
_SUB_ISSUES = ["Information is not mine", "Debt is not mine", "Frequent or repeated calls"]
_STATES = ["CA", "TX", "FL", "NY", "GA", "IL", "PA", "OH", "NJ", "NC", "VA", "MI"]
_VIA = [("Web", 60), ("Referral", 18), ("Phone", 10), ("Postal mail", 8), ("Fax", 3), ("Email", 1)]
_RESPONSES = [("Closed with explanation", 70), ("Closed with non-monetary relief", 12),
              ("Closed with monetary relief", 7), ("In progress", 5), ("Closed", 4),
              ("Untimely response", 2)]
# zipcode -> state is fixed, so the bare ``state`` of a GROUP BY zipcode is
# functionally dependent on the key and every engine returns the same row
_ZIP_STATE = {f"{10000 + 331 * i:05d}": _STATES[(i * 7) % len(_STATES)] for i in range(240)}
_ZIPS = sorted(_ZIP_STATE)


def _pick(rng: random.Random, weighted: list[tuple[str, int]]) -> str:
    return rng.choices([v for v, _ in weighted], [w for _, w in weighted])[0]


def _maybe(rng: random.Random, p: float, value):
    return value if rng.random() < p else None


def _mdy(rng: random.Random) -> str:
    return f"{rng.randint(1, 12):02d}/{rng.randint(1, 28):02d}/{rng.randint(2011, 2016)}"


def complaint_rows(rng: random.Random, n: int, first_id: int) -> list[list]:
    rows = []
    for i in range(n):
        zipcode = rng.choice(_ZIPS)
        rows.append([
            _mdy(rng), _pick(rng, _PRODUCTS),
            _maybe(rng, 0.4, rng.choice(_SUB_PRODUCTS)),
            rng.choice(_ISSUES), _maybe(rng, 0.2, rng.choice(_SUB_ISSUES)),
            _maybe(rng, 0.05, "I called several times and never got an answer."),
            _maybe(rng, 0.1, "Company chooses not to provide a public response"),
            rng.choices(COMPANIES, _COMPANY_W)[0], _ZIP_STATE[zipcode], zipcode,
            _maybe(rng, 0.1, rng.choice(["Older American", "Servicemember"])),
            _maybe(rng, 0.3, rng.choice(["Consent provided", "Consent not provided"])),
            _pick(rng, _VIA), _mdy(rng), _pick(rng, _RESPONSES),
            "Yes" if rng.random() < 0.97 else "No",
            _maybe(rng, 0.8, "Yes" if rng.random() < 0.2 else "No"),
            first_id + i,
        ])
    return rows


def write_inputs(directory: str, seed: int, n_files: int, rows_per_file: int,
                 write_workbook) -> dict[str, list[list]]:
    """Write ``complaints_{a,b,...}.xlsx`` (Sheet1) and return
    {file name: rows}.  ``write_workbook`` is ``xlsx_io.write_workbook``."""
    rng = random.Random(seed)
    files = {}
    os.makedirs(directory, exist_ok=True)
    for k in range(n_files):
        name = f"complaints_{chr(ord('a') + k)}.xlsx"
        rows = complaint_rows(rng, rows_per_file, 500000 + k * rows_per_file)
        write_workbook(os.path.join(directory, name), [("Sheet1", COLUMNS, rows)])
        files[name] = rows
    return files


# (name, sql, pivot) per bundle; sql uses the ``.sheet`` macro
EXCEL_QUERIES = [
    ("complaint_counts_by_company",
     "SELECT company, product, COUNT(product) as number_of_complaints "
     "FROM Sheet1.sheet WHERE company='Bank of America' GROUP BY product "
     "HAVING COUNT(company_response_to_consumer)>10", True),
    ("num_of_complaints_per_company",
     "SELECT company, COUNT(company) as number_of_complaints "
     "FROM Sheet1.sheet GROUP BY company", False),
    ("complaints_per_zipcode",
     "SELECT zipcode, state, COUNT(*) AS n, SUM(CASE WHEN timely_response = 'No' THEN 1 ELSE 0 END) AS untimely "
     "FROM Sheet1.sheet GROUP BY zipcode", True),
]
PARQUET_QUERIES = [
    ("disputed_detail",
     'SELECT complaint_id, date_received, product, sub_product, issue, company, '
     'state, zipcode, submitted_via, company_response_to_consumer, '
     'timely_response, "consumer_disputed?" FROM Sheet1.sheet', True),
]
BUNDLES = [("complaints_excel", "excel", EXCEL_QUERIES),
           ("complaints_parquet", "parquet", PARQUET_QUERIES)]


def make_bundles(query_bundle_cls, files: list[str]):
    """Fresh QueryBundle objects (they accumulate results during a run)."""
    return [
        query_bundle_cls.from_strings(
            export, sink, files, ["Sheet1"], [q[1] for q in qs], [q[0] for q in qs],
            {q[0]: q[2] for q in qs})
        for export, sink, qs in BUNDLES
    ]


# -- expected results (sqlite3) -------------------------------------------
def _norm(v):
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def _rows(rows) -> Counter:
    return Counter(tuple(_norm(v) for v in r) for r in rows)


def expected(files: dict[str, list[list]]) -> dict[str, dict]:
    """{query name: {file name: (columns, row multiset)}} from sqlite3."""
    con = sqlite3.connect(":memory:")
    cols = ", ".join(f'"{c}"' for c in COLUMNS)
    marks = ", ".join("?" * len(COLUMNS))
    out: dict[str, dict] = {}
    for i, (name, rows) in enumerate(sorted(files.items())):
        con.execute(f"CREATE TABLE t{i} ({cols})")
        con.executemany(f"INSERT INTO t{i} VALUES ({marks})", rows)
        for qname, sql, _ in EXCEL_QUERIES + PARQUET_QUERIES:
            cur = con.execute(sql.replace("Sheet1.sheet", f"t{i}"))
            out.setdefault(qname, {})[name] = (
                [d[0] for d in cur.description], _rows(cur.fetchall()))
    con.close()
    return out


def check_outputs(export_dir: str, files: list[str], want: dict,
                  read_sheet) -> tuple[int, list[str]]:
    """Compare the sinks' outputs with ``want``.  Returns (rows written,
    problems); ``read_sheet`` is ``xlsx_io.read_sheet``."""
    import pyarrow.parquet as pq

    got: dict[str, tuple[list[str], list]] = {}
    for qname, _, _ in EXCEL_QUERIES:
        got[qname] = read_sheet(os.path.join(export_dir, "complaints_excel.xlsx"), qname[:31])
    for qname, _, _ in PARQUET_QUERIES:
        t = pq.read_table(os.path.join(export_dir, "complaints_parquet", qname))
        got[qname] = (t.column_names, [list(r.values()) for r in t.to_pylist()])
    problems, rows_written = [], 0
    for qname, _, pivot in EXCEL_QUERIES + PARQUET_QUERIES:
        cols, rows = got[qname]
        rows_written += len(rows)
        if pivot:
            qcols = next(iter(want[qname].values()))[0]
            exp = Counter()
            for f, (_, ms) in want[qname].items():
                exp.update({(f.rsplit(".", 1)[0],) + r: n for r, n in ms.items()})
            if cols != ["index"] + qcols or _rows(rows) != exp:
                problems.append(f"{qname}: pivot union differs from sqlite3")
            continue
        for f in files:
            qcols, ms = want[qname][f]
            idx = [cols.index(f"{f}_{c}") if f"{f}_{c}" in cols else -1 for c in qcols]
            if -1 in idx:
                problems.append(f"{qname}: missing column block of {f}")
                continue
            block = [[r[i] for i in idx] for r in rows]
            if _rows(b for b in block if any(v is not None for v in b)) != ms:
                problems.append(f"{qname}: column block of {f} differs from sqlite3")
    return rows_written, problems
