"""Stored result digests for the query workloads.

A digest is ``tools/parity.py:value_hash`` — columns sorted by name, one
tuple of ``repr`` per row, rows sorted — with its salted builtin
``hash()`` replaced by SHA-256, so the value is the same in every process
and can be stored.  Expected digests come from each entry's
``oracle_sql()`` run through DuckDB on the same parquet
(``perfbench/make_digests.py`` regenerates them).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
DATA = os.path.join(HERE, "data")

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import parity  # noqa: E402  (tools/parity.py)


def _sha256(rows: tuple) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


# value_hash looks ``hash`` up in its module globals before the builtins
parity.hash = _sha256


def digest(pdf) -> str:
    return parity.value_hash(pdf)


def load() -> dict[str, dict[str, str]]:
    """{sf name: {entry: digest}}."""
    with open(DIGESTS) as f:
        return json.load(f)
