from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    # imported here, so a Spark-free test file never loads pyspark
    from pyspark_cdc.session import get_spark

    s = get_spark(app_name="pyspark_cdc_tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_table(tmp_path):
    return str(tmp_path / "table")


def rows_by_key(df):
    return {(r["repo"], r["path"]): r.asDict() for r in df.collect()}


def assert_state_equal(engine_rows: dict, oracle_state: dict):
    """Every column read() returns equals the oracle's row (a column the
    oracle row lacks must read null), and the key sets match."""
    assert set(engine_rows) == set(oracle_state)
    for k, exp in oracle_state.items():
        got = engine_rows[k]
        all_cols = set(exp) | {c for c, v in got.items() if v is not None}
        for c in all_cols:
            assert got.get(c) == exp.get(c), (k, c, got.get(c), exp.get(c))
