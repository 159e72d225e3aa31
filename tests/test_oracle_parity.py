"""t2 correctness gate: every registered relational query must match its
DuckDB oracle at the test scale factor — the same comparison the driver
runs (column names sorted, row-order-insensitive, value equality, and an
int column never matching a float one), through the one comparison the
oracle harness uses (tools/check_oracle.compare).
"""

from __future__ import annotations

import pytest

from tlmc_etl_spark.plans import QUERIES
from tools.check_oracle import compare

RELATIONAL = [n for n, q in QUERIES.items() if q.oracle is not None]


@pytest.mark.parametrize("name", RELATIONAL)
def test_matches_oracle(name, spark, duck, sf_dir):
    q = QUERIES[name]
    if q.oracle_sf_dir and q.oracle_sf_dir != sf_dir:
        # literal-pinned oracle (embeds artifacts trained at one sf):
        # run BOTH engines at the pinned directory
        import os

        import duckdb

        from tlmc_etl_spark.sources.tables import TABLES

        if not os.path.isdir(q.oracle_sf_dir):
            pytest.skip(f"pinned sf dir {q.oracle_sf_dir} absent")
        duck = duckdb.connect()
        for t in TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{q.oracle_sf_dir}/{t}.parquet'"
            )
        sf_dir = q.oracle_sf_dir
    got = q.fn(spark, sf_dir).toPandas()
    want = duck.execute(q.oracle).fetchdf()
    assert compare(name, got, want) == "OK"


EXT = [n for n, q in QUERIES.items() if q.oracle is None]


@pytest.mark.parametrize("name", EXT)
def test_ext_query_runs(name, spark, sf_dir):
    # relational queries are exercised by the parity test above; ext
    # queries get their semantics checked in test_ext_operators.py — this
    # is just the smoke gate that each stays runnable from the catalog
    assert QUERIES[name].fn(spark, sf_dir).count() >= 0
