"""Local clone of the driver's t2 gate: run each declared query in
Spark AND its oracle SQL in DuckDB on the same parquet tables, compare
row count + column names + (order-insensitive) values.

Runs at sf0.001 by default for speed; set SPARK_GRAFT_TEST_SF_DIR to
/root/testdata/sf0.01 to match the driver exactly.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from duo_spark.operators.materialize import scope
from duo_spark.queries import QUERIES

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

ORACLE_CASES = [(n, fn, sql) for n, (fn, sql) in QUERIES.items() if sql is not None]
ROWS_ONLY_CASES = [(n, fn) for n, (fn, sql) in QUERIES.items() if sql is None]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    return str(v)


def _rows(df_pandas):
    cols = sorted(df_pandas.columns)
    return sorted(tuple(_canon(v) for v in row) for row in df_pandas[cols].itertuples(index=False))


@pytest.mark.parametrize(("name", "fn", "sql"), ORACLE_CASES, ids=[c[0] for c in ORACLE_CASES])
def test_oracle_parity(spark, duck, sf_dir, persistent_ids, name, fn, sql):
    before = persistent_ids()
    with scope():
        got = fn(spark, sf_dir).toPandas()
        # only ids created inside the scope: earlier tests' non-blocking
        # releases make the full set racy
        created = persistent_ids() - before
    leaked = created & persistent_ids()
    assert not leaked, f"{name}: blocks outlived their scope: {sorted(leaked)}"
    want = duck.execute(sql).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    g, w = _rows(got), _rows(want)
    mism = [i for i, (a, b) in enumerate(zip(g, w)) if a != b][:5]
    assert g == w, f"{name}: first mismatching sorted rows at {mism}: " + "; ".join(
        f"spark={g[i]} duck={w[i]}" for i in mism
    )


def test_every_query_has_an_oracle():
    """Registry invariant (since round 4): no rows-only queries — every
    declared query ships DuckDB oracle SQL, so the driver's correctness
    gate covers the full registry. A regression here silently weakens
    the gate (sql=None rows vanish from the driver file entirely)."""
    assert ROWS_ONLY_CASES == []
