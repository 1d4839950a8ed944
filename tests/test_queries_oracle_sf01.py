"""Scale-up parity: the oracle-matched queries must agree with DuckDB at
sf0.1 too (10x the driver's gate) — catches scale-dependent divergence
(overflow, rounding drift, ordering instability). ANN queries are
excluded: the relational dot-product oracle is O(n^2 d) rows in DuckDB
and already covered at sf0.01.
"""

import math

import pytest
from conftest import duckdb_connect

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.1"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# quadratic DuckDB oracles, plus ivf (its unnest-join re-rank is ~4 min
# in DuckDB at sf0.1 — verified matching once by hand; sf0.01 covers it
# every run)
SKIP = {"ann_topk", "embedding_neardup", "ann_ivf_topk", "hard_negatives"}


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
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, bool):
        return int(v)
    return v


@pytest.mark.slow
def test_all_oracle_queries_match_at_sf01(spark, duck):
    qs = entry_mod.queries()
    failures = []
    for name, sql in entry_mod.oracle_sql().items():
        if name in SKIP:
            continue
        sdf = qs[name](spark, SF_DIR)
        cols = sorted(sdf.columns)
        srows = sorted(
            tuple(_norm(r[c]) for c in cols) for r in sdf.collect()
        )
        res = duck.execute(sql)
        dnames = [d[0] for d in res.description]
        drows = sorted(
            tuple(_norm(row[dnames.index(c)]) for c in sorted(dnames))
            for row in res.fetchall()
        )
        if cols != sorted(dnames) or srows != drows:
            failures.append(name)
    assert not failures, failures
