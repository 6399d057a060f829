"""Behavioral parity against the reference's own execution path: run
its exact example queries through SQLite (its real engine) AND through
this engine over complaints-shaped workbooks, and compare values.

The workbooks are generated (FIXTURES.md §1: the 18 complaint columns
with ``consumer_disputed?``, a skewed ~190-company mix, two
byte-identical files), so the engine-vs-SQLite check always runs.  The
golden ``.hyper`` catalog check needs the reference checkout's shipped
file and is skipped without it.
"""

import os
import random
import shutil
import sqlite3

import pytest

from etl_excel_to_hyper_tableau_spark.bundles import QueryBundle
from etl_excel_to_hyper_tableau_spark.engine import QueryEngine
from etl_excel_to_hyper_tableau_spark.sources import xlsx_io

REF = "/root/reference"

COLUMNS = [
    "date_received", "product", "sub_product", "issue", "sub_issue",
    "consumer_complaint_narrative", "company_public_response", "company",
    "state", "zipcode", "tags", "consumer_consent_provided",
    "submitted_via", "date_sent_to_company",
    "company_response_to_consumer", "timely_response",
    "consumer_disputed?", "complaint_id",
]
PRODUCTS = ["Mortgage", "Credit card", "Debt collection",
            "Bank account or service", "Student loan"]
HEAVY = ["Bank of America", "Wells Fargo", "JPMorgan Chase", "Citibank",
         "Equifax", "Experian"]
COMPANIES = HEAVY + [f"Company {i:03d}" for i in range(184)]
RESPONSES = ["Closed with explanation", "Closed with monetary relief",
             "Closed with non-monetary relief", "In progress"]


def _complaint_rows(n: int = 1000, seed: int = 11) -> list[list]:
    """~1000 complaints, about a third from the six heavy companies and
    one in six from Bank of America, so Q1's ``HAVING ... > 10`` keeps
    every common product.  "Payday loan" gets only a handful of Bank of
    America rows, so the HAVING also drops one group."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        if i % 6 == 0:
            company = "Bank of America"
        elif rng.random() < 0.2:
            company = rng.choice(HEAVY)
        else:
            company = rng.choice(COMPANIES)
        product = ("Payday loan" if i % 200 == 0
                   else PRODUCTS[rng.randrange(len(PRODUCTS))])
        month, day = rng.randint(1, 12), rng.randint(1, 28)
        rows.append([
            f"{month:02d}/{day:02d}/2013", product,
            rng.choice([None, None, "Other mortgage", "Checking account"]),
            rng.choice(["Loan modification,collection,foreclosure",
                        "Billing disputes", "Account opening"]),
            None, None, None, company,
            rng.choice(["CA", "NY", "TX", "FL"]),
            f"{rng.randint(10000, 99999)}", None,
            rng.choice([None, "Consent provided"]), "Referral",
            f"{month:02d}/{min(day + 3, 28):02d}/2013",
            rng.choice(RESPONSES), rng.choice(["Yes", "No"]),
            rng.choice([None, "Yes", "No"]), 500000 + i,
        ])
    return rows


@pytest.fixture(scope="module")
def complaints_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("complaints")
    first = d / "consumer_complaints.xlsx"
    xlsx_io.write_workbook(str(first),
                           [("Sheet1", COLUMNS, _complaint_rows())])
    shutil.copyfile(first, d / "consumer_complaints1.xlsx")
    return str(d)

Q1 = ("SELECT company, product, COUNT(product) as number_of_complaints "
      "FROM Sheet1.sheet WHERE company='Bank of America'"
      "GROUP BY product "
      "HAVING COUNT(company_response_to_consumer)>10")
Q2 = ("SELECT company, COUNT(company) as number_of_complaints "
      "FROM Sheet1.sheet GROUP BY company ")


@pytest.fixture(scope="module")
def sqlite_results(complaints_dir):
    """The reference pipeline's compute core, re-run faithfully: sheet →
    staging table → per-(query, file) SQL through SQLite."""
    cols, rows = xlsx_io.read_sheet(
        f"{complaints_dir}/consumer_complaints.xlsx", "Sheet1")
    con = sqlite3.connect(":memory:")
    col_list = ", ".join(f'"{c}"' for c in cols)
    con.execute(f'CREATE TABLE consumer_complaints_Sheet1_sheet ({col_list})')
    con.executemany(
        f"INSERT INTO consumer_complaints_Sheet1_sheet VALUES "
        f"({','.join('?' * len(cols))})", rows)
    out = {}
    for name, q in [("q1", Q1), ("q2", Q2)]:
        sql = q.replace("Sheet1.sheet", "consumer_complaints_Sheet1_sheet")
        out[name] = sorted(tuple(r) for r in con.execute(sql).fetchall())
    con.close()
    # Q1 keeps every common product and drops the rare one
    assert sorted(r[1] for r in out["q1"]) == sorted(PRODUCTS)
    return out


def test_engine_matches_sqlite_on_reference_data(spark, tmp_path, complaints_dir,
                                                 sqlite_results):
    bundle = QueryBundle.from_strings(
        export_name="complaints_by_bank", sink="excel",
        matches=["consumer_complaints.xlsx", "consumer_complaints1.xlsx"],
        sheets=["Sheet1"],
        query_strings=[Q1, Q2],
        query_names=["complaint_counts_by_company", "num_of_complaints_per_company"],
        pivot_by_name={"complaint_counts_by_company": True},
    )
    eng = QueryEngine(spark, complaints_dir, [bundle], str(tmp_path))
    eng.process_queries()

    # per-file results recorded during the run carry the raw (unprefixed,
    # uncombined) query output — compare those against SQLite's
    for qname, key in [("complaint_counts_by_company", "q1"),
                       ("num_of_complaints_per_company", "q2")]:
        per_file = bundle.queried_dfs_by_query_name[qname]
        assert len(per_file) == 2
        for _, df in per_file:
            got = sorted(tuple(r) for r in df.collect())
            assert got == sqlite_results[key], qname


@pytest.mark.skipif(
    not os.path.exists(f"{REF}/consumer_complaints.xlsx"),
    reason="reference checkout not available")
def test_golden_hyper_schema_from_reference_data(spark, tmp_path):
    # the shipped complaints_by_bank.hyper pins these schemas (SURVEY §5.1)
    from etl_excel_to_hyper_tableau_spark.sinks.hyper import plan_hyper_tables
    bundle = QueryBundle.from_strings(
        export_name="x", sink="excel",
        matches=["consumer_complaints.xlsx", "consumer_complaints1.xlsx"],
        sheets=["Sheet1"], query_strings=[Q1, Q2],
        query_names=["complaint_counts_by_company", "num_of_complaints_per_company"],
        pivot_by_name={"complaint_counts_by_company": True})
    eng = QueryEngine(spark, REF, [bundle], str(tmp_path))
    match_map = eng.match_files()
    eng.stage(eng.distinct_sheets(match_map))
    try:
        results = []
        for query in bundle.queries:
            per_file = [(m, match_map[m], eng.run_query(query, match_map[m]))
                        for m in bundle.matches]
            results.append((query.name, eng.combine(bundle, query, per_file)))
        plans = {p["table"]: p["columns"] for p in plan_hyper_tables(results)}
    finally:
        from etl_excel_to_hyper_tableau_spark.sources.registry import unregister_all
        unregister_all(spark, eng._registered)
        eng._registered.clear()

    assert plans["complaint_counts_by_company"] == [
        ("index", "text", True), ("company", "text", True),
        ("product", "text", True), ("number_of_complaints", "big_int", True)]
    assert [c[0] for c in plans["num_of_complaints_per_company"]] == [
        "consumer_complaints.xlsx_company",
        "consumer_complaints.xlsx_number_of_complaints",
        "consumer_complaints1.xlsx_company",
        "consumer_complaints1.xlsx_number_of_complaints"]

    # --- against the ACTUAL golden file's embedded catalog -----------------
    # (read without tableauhyperapi — the catalog is a plain JSON document
    # inside the .hyper binary; sinks/hyper.py::read_hyper_catalog)
    from etl_excel_to_hyper_tableau_spark.sinks.hyper import read_hyper_catalog
    golden = {r["table"]: r["columns"]
              for r in read_hyper_catalog(f"{REF}/complaints_by_bank.hyper")}
    assert set(golden) == set(plans)
    # int-width divergence is intentional: the reference mapped pandas
    # int64 → 32-bit SqlType.int() (query_iterator.py:217-227, an overflow
    # hazard); the rebuild widens to big_int.  Both are "int family".
    FAMILY = {"text": "text", "big_int": "int", "int": "int",
              "Varchar": "text", "Integer": "int", "BigInt": "int"}
    for table, gcols in golden.items():
        ours = plans[table]
        assert [c[0] for c in ours] == [c[0] for c in gcols], table
        got_types = [FAMILY[c[1]] for c in ours]
        want_types = [FAMILY[c[1][0]] for c in gcols]
        assert got_types == want_types, table
