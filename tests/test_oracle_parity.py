"""Replicates the driver's correctness gate locally: every queries()
entry is executed by Spark AND its oracle_sql() by DuckDB on the same
parquet tables; row count, column names, and an order-insensitive
value hash must match exactly."""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _canon(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cols = []
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype == object:
            cols.append(s.astype(str))
        elif str(s.dtype).startswith("float"):
            cols.append(s.map(lambda v: f"{v:.17g}"))
        else:
            cols.append(s.astype("int64").astype(str))
    rows = sorted("|".join(t) for t in zip(*[c.tolist() for c in cols]))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


ALL = sorted(E.queries().keys())

# Rows-only entries expected to return NO rows at SF_DIR, name -> one-line
# reason. Every rows-only entry returns rows at sf0.001 and sf0.01, so
# this is empty: an empty result from one of them is a finding to
# report, not a case to add here silently.
EXPECTED_EMPTY: dict[str, str] = {}


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, oracle_con, name):
    q = E.queries()[name]
    sql = E.oracle_sql().get(name)
    got = q(spark, SF_DIR).toPandas()
    if sql is None:
        # rows-only check (the driver's), made to assert something
        assert len(got) > 0 or name in EXPECTED_EMPTY, (
            f"{name}: rows-only entry returned no rows")
        return
    want = oracle_con.sql(sql).df()
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: cols {sorted(got.columns)} != {sorted(want.columns)}")
    assert _canon(got) == _canon(want), f"{name}: value hash mismatch"
