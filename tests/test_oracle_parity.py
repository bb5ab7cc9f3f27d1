"""Every queries() entry must match its oracle_sql() on sf0.001 —
the same gate the driver runs at sf0.01."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

from tests.oracle_util import compare, duck_con  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    ok, msg = compare(QUERIES[name](spark, sf_dir), con, ORACLES[name])
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"sink", "n"}
