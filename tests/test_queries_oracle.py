"""Driver-harness mimic: every queries() entry with an oracle_sql() twin
must match DuckDB on row count, column names, and order-insensitive
values at sf0.01 — this is a local pre-flight of CORRECTNESS_r{N}.json.
"""

import math

import pytest
from conftest import duckdb_connect

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb_connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, bool):
        return int(v)
    return v


def _rows_to_set(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    sql = entry_mod.oracle_sql()[name]
    # The driver's value-hash is TYPE-sensitive (arrow-level): DuckDB
    # SUM(BIGINT) -> HUGEINT diverges from Spark's bigint even when values
    # are equal.  Guard the oracle's output surface against int128.
    rel = duck.sql(sql)
    huge = [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t)]
    assert not huge, f"{name}: oracle emits HUGEINT columns {huge}; CAST to BIGINT"

    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _rows_to_set(spark_cols, spark_rows)
    b = _rows_to_set(duck_cols, duck_rows)
    if a != b:
        diff_a = [r for r in a if r not in set(b)][:3]
        diff_b = [r for r in b if r not in set(a)][:3]
        raise AssertionError(f"{name}: value mismatch; spark-only {diff_a} duck-only {diff_b}")


def test_all_queries_runnable_rows_only(spark):
    """Entries without an oracle must still run and return a stable schema."""
    oracles = set(entry_mod.oracle_sql())
    for name, q in entry_mod.queries().items():
        if name in oracles:
            continue
        df = q(spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.columns
