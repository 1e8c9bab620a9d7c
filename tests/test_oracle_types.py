"""No-Spark lint over the DuckDB oracle twins: every ``oracle_sql()``
query must bind to output column types that Spark can produce too.

DuckDB widens ``sum(BIGINT)`` to HUGEINT (INT128) and some integer
arithmetic to DECIMAL; Spark returns BIGINT for the same expression. The
value gate (``scripts/check_oracle.py``) compares values as strings and
cannot see the difference, but a gate that compares typed results
fails on it. The twins therefore cast such columns back to BIGINT (or
DOUBLE) explicitly. The types come from ``con.sql(sql).types``, which
binds the query without running it; the DB-API ``description`` reports
``NUMBER`` and hides HUGEINT."""

from __future__ import annotations

import os
import sys

import pytest

duckdb = pytest.importorskip("duckdb")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# reads a Matrix Market file that is not part of the test data
NEEDS_EXTERNAL_FILE = {"mm_read"}
WIDE_TYPES = ("HUGEINT", "DECIMAL")


def wide_columns(con, sql: str) -> list[str]:
    """``name TYPE`` for every output column bound to a type Spark does
    not produce for the same expression."""
    rel = con.sql(sql)
    return [f"{c} {t}" for c, t in zip(rel.columns, rel.types)
            if str(t).upper().startswith(WIDE_TYPES)]


@pytest.fixture(scope="module")
def con():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"test data not present: {SF_DIR}")
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield c
    c.close()


def test_oracle_twins_bind_spark_types(con):
    bad = {}
    for name, sql in entrymod.oracle_sql().items():
        if name in NEEDS_EXTERNAL_FILE:
            continue
        wide = wide_columns(con, sql)
        if wide:
            bad[name] = wide
    assert not bad, f"oracle twins with HUGEINT/DECIMAL output columns: {bad}"


def test_wide_type_lint_catches_bare_sum(con):
    assert wide_columns(con, "SELECT sum(event_id) AS s FROM events") == ["s HUGEINT"]
    assert wide_columns(
        con, "SELECT CAST(sum(event_id) AS BIGINT) AS s FROM events") == []
