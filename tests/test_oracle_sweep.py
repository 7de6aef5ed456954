"""The strict DuckDB oracle over the whole registry: every ``queries()``
entry at sf0.001, compared with bit-exact floats by the same function
``tools/verify_local.py`` runs, so a failure here is a failure there."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
import __spark_entry__ as entrymod  # noqa: E402
from verify_local import compare_entry, oracle_connection  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def oracle():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_matches_strict_oracle(spark, oracle, name):
    verdict, detail = compare_entry(
        spark, oracle, QUERIES[name], ORACLES.get(name), SF_DIR, strict=True
    )
    assert verdict != "FAIL", f"{name}: {detail}"
