"""Mirror of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB at sf0.001, compare row
count, sorted column names, and order-insensitive values. Each
entry's optimized plan is also linted for lambda-bearing Filters."""

from __future__ import annotations

import math
import re

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def normalize_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(normalize_cell(r[i]) for i in order) for r in rows)


def lambda_filters(sdf) -> list[str]:
    """The optimized plan's ``Filter`` nodes whose condition holds a
    higher-order-function lambda. For an inner generator over an
    attribute, Spark's ``InferFiltersFromGenerate`` adds
    ``size(col) > 0 AND isnotnull(col)``, and predicate pushdown then
    inlines the column's defining expression into a scan-side Filter:
    a MinHash fold (or any ``transform``/``aggregate`` tree) runs again
    there, before the real projection."""
    tree = sdf._jdf.queryExecution().optimizedPlan().toString()
    return [
        line.strip()[:200]
        for line in tree.splitlines()
        if re.match(r"^[\s:+\-|!]*Filter ", line) and "lambdafunction(" in line
    ]


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()
    sdf = q(spark, SF_DIR)
    bad_filters = lambda_filters(sdf)
    assert not bad_filters, f"{name}: lambda in a Filter: {bad_filters}"
    srows = sdf.collect()
    scols = sdf.columns
    if name not in oracles:
        assert len(srows) >= 0  # rows-only check for non-SQL ops
        return
    res = duck.execute(oracles[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch"
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} vs {len(drows)}"
    assert rowset(scols, srows) == rowset(dcols, drows), f"{name}: value mismatch"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
