"""The driver's correctness gate, wired into pytest: every queries() entry
runs on Spark and its oracle_sql() on DuckDB over the same parquet tables,
comparing row count, column names, and order-insensitive values.  A new
contract query cannot land without passing here first (VERDICT r2 item 1).

Scale: sf0.01 by default — the driver's own gate scale — overridable via
SPARK_GRAFT_ORACLE_SF for a quick sf0.001 pass while iterating.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from check_oracle import run_check  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def test_every_contract_query_matches_its_oracle(spark):
    failures = run_check(spark, SF, out=sys.stderr)
    assert not failures, f"oracle mismatches: {failures}"


def test_registry_and_oracle_have_the_same_keys():
    """No query without an oracle, and no oracle block left behind by a
    deleted query (the gate walks queries() only, so an orphan would pass
    every other check).  Runs no Spark."""
    import __spark_entry__ as entrymod

    assert set(entrymod.queries()) == set(entrymod.oracle_sql())
