"""Replicates the driver's correctness gate locally: run every
``queries()`` entry through Spark AND its ``oracle_sql()`` twin through
DuckDB on the same parquet, then compare row count, column names, and
(order-insensitively) every value.

Comparison is STRICTER than a value-hash: exact equality for
ints/strings/dates, and exact equality for floats too (the queries are
engineered to be bit-deterministic across engines); any mismatch prints
the offending rows.
"""

from __future__ import annotations

import os
import sys

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE, duck_con

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))
from oracle_sweep import _canon  # noqa: E402  (the oracle sweep's row canon)

# SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 runs the parity suite at the
# driver's correctness scale (default: sf0.001 for speed)
TEST_SF = os.environ.get("SPARK_GRAFT_TEST_SF", SF_SMOKE)

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    fn = QUERIES[name]
    sdf = fn(spark, TEST_SF)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_con(TEST_SF)
    try:
        res = con.execute(ORACLES[name])
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
    finally:
        con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ\n spark={sorted(spark_cols)}\n duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s, d = _canon(spark_rows, spark_cols), _canon(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches, first 3: {mismatches[:3]}"


def test_every_query_has_oracle_or_is_documented():
    missing = set(QUERIES) - set(ORACLES)
    assert missing == set(), f"queries without oracle: {missing}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_disc_price" in df.columns


def test_composite_legs_reference_registered_queries():
    """Every COMPOSITE_LEGS key must be a registered query (bench pairs
    leg timings with the composite's own bench row), and leg callables
    must be distinct from the composite itself."""
    from aws_pandas_etl_spark.plans.queries import COMPOSITE_LEGS, QUERIES

    for comp, legs in COMPOSITE_LEGS.items():
        assert comp in QUERIES, comp
        assert legs, comp
        for name, fn in legs.items():
            assert callable(fn), (comp, name)
            assert fn is not QUERIES[comp], (comp, name)
