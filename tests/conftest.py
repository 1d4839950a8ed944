import os
import sys
import tempfile
from pathlib import Path

import duckdb
import pytest
from hypothesis import settings

# deterministic property tests: the driver's pytest run must never fail
# on a freshly-discovered example
settings.register_profile("ci", derandomize=True, deadline=None)
settings.load_profile("ci")

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running end-to-end test")

from lieu_spark.session import build_session  # noqa: E402


def duckdb_connect():
    """In-process DuckDB connection for the oracle tests, capped at 4 GB.

    DuckDB's default memory_limit is 80% of RAM; next to the Spark JVM
    in the same box that gets the pytest process OOM-killed by the
    largest sf0.1 oracles. The cap only makes DuckDB spill to its temp
    directory (under $SPARK_LOCAL_DIRS, with Spark's other scratch
    files) — query results are unchanged."""
    con = duckdb.connect()
    local = os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()
    tmp = os.path.join(local.split(",")[0], "duckdb")
    con.execute("SET memory_limit='4GB'")
    con.execute(f"SET temp_directory='{tmp}'")
    return con


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="lieu_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def shuffled_copy(spark):
    """(original, copy) one-turn transcript frames: an 80-word text and a
    word-shuffled copy of it. The copy keeps the token multiset (SimHash
    hamming 0) but shares almost no 5-shingles, so only the SimHash
    family pairs the two — the entry-point parity probe for that family."""
    import random
    from datetime import datetime

    from lieu_spark import corpus

    words = [f"word{i}" for i in range(80)]
    shuffled = list(words)
    random.Random(3).shuffle(shuffled)
    ts = datetime(2024, 1, 1)

    def one(conv_id, text):
        return spark.createDataFrame(
            [(conv_id, 0, "user", text, None, ts)], corpus.TRANSCRIPT_SCHEMA
        )

    return one("s000000001", " ".join(words)), one("s000000002", " ".join(shuffled))
