"""Emulates the driver's correctness gate: every queries() entry that has
an oracle_sql() is run through Spark AND DuckDB on the same parquet
tables and compared on row count, column names, and (order-insensitively)
values. Runs at sf0.001 for speed; the driver does the same at sf0.01.
The comparison is ``streaming_demos_spark.oracle_compare.compare``.
"""

from __future__ import annotations

import pytest

from streaming_demos_spark import oracle_compare as OC

SF_DIR = "/root/testdata/sf0.001"
# The eigendecomposition oracles are numpy-computed from the data dir;
# they must read the SAME scale this test queries at. Set before the
# first oracle_sql() call.
OC.use_sf_dir(SF_DIR)

import __spark_entry__ as entrymod  # noqa: E402

@pytest.fixture(scope="module")
def ducon():
    con = OC.duck_views(SF_DIR)
    yield con
    con.close()


QUERY_KEYS = sorted(set(entrymod.queries()) & set(entrymod.oracle_sql()))


@pytest.mark.parametrize("key", QUERY_KEYS)
def test_matches_duckdb_oracle(spark, ducon, key):
    qdf = entrymod.queries()[key](spark, SF_DIR)
    rec = OC.compare(qdf, ducon, entrymod.oracle_sql()[key])

    assert rec["schema_match"], f"{key}: column sets differ"
    assert rec["rows_match"], (
        f"{key}: row counts differ {rec['spark_rows']}/{rec['oracle_rows']}")
    assert rec["hash_match"], f"{key}: first mismatch {rec['first_diff']}"


def test_entry_smoke(spark):
    # Mirrors the driver's gate: the flagship query must produce rows.
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0 and df.schema is not None
