"""The one Spark-vs-DuckDB comparator.

Every correctness check in the repo (``scripts/oracle_check.py``, the
dtype gate, the oracle-parity and pandas-bridge tests) goes through
this module, so the table list, the DuckDB views, the value normalizer
and the record fields exist once.

The comparison is the correctness gate's: both results are reduced to a
column-name-ordered, sorted list of normalized rows and md5-hashed.
Floats round at ``ORACLE_NORM_DP`` places (default 9, the gate's;
the 12dp sweep is the environment-sensitivity gate for
final-digit-of-a-double outputs) and everything else -- NULLs
included -- is stringified, so rows mixing values and NULLs still sort.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

from streaming_demos_spark.schemas import TESTDATA_TABLES as TABLES

NORM_DP = int(os.environ.get("ORACLE_NORM_DP", "9"))


def use_sf_dir(sf_dir: str) -> None:
    """Point the numpy/python-computed oracles
    (``streaming_demos_spark.queries.generated``) at the data dir the
    comparison reads. Call before ``oracle_sql()``."""
    os.environ["ORACLE_SF_DIR"] = sf_dir


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per testdata table of
    ``sf_dir`` -- the names the oracle SQL reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    return con


def norm(v) -> str:
    return (
        ("NaN" if math.isnan(v) else str(round(v, NORM_DP)))
        if isinstance(v, float)
        else str(v)
    )


def canonical(cols, data) -> list[tuple]:
    """Rows as sorted tuples of normalized values, columns ordered by
    lower-cased name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(norm(r[i]) for i in order) for r in data)


def vhash(cols, data) -> str:
    return hashlib.md5(str(canonical(cols, data)).encode()).hexdigest()


def _spark_result(df, pandas: bool = False):
    """``(columns, rows)`` of a Spark DataFrame. ``pandas=True`` routes
    through ``toPandas()`` as the gate's comparison does: pandas
    re-types what python objects keep exact (HUGEINT or NULL-bearing
    int64 floatifies, timestamps become ``pandas.Timestamp``, NaN/None
    unify) -- ``scripts/dtype_check.py`` predicts these from the plans,
    this executes them."""
    if pandas:
        pdf = df.toPandas()
        return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False)]
    return df.columns, [tuple(r) for r in df.collect()]


def _duck_result(rel, pandas: bool = False):
    """``(columns, rows)`` of a DuckDB relation (``.df()`` if pandas)."""
    cols = [d[0] for d in rel.description]
    if pandas:
        return cols, [tuple(r) for r in rel.df().itertuples(index=False)]
    return cols, rel.fetchall()


def compare(df, con, sql: str, pandas: bool = False) -> dict:
    """Run ``df`` on Spark and ``sql`` on ``con`` and return the gate's
    record fields (``rows_match``, ``schema_match``, ``hash_match``,
    ``spark_rows``, ``oracle_rows``) plus ``first_diff``: the first
    differing ``(spark_row, oracle_row)`` pair of the canonical forms,
    or None."""
    scols, sdata = _spark_result(df, pandas)
    dcols, ddata = _duck_result(con.sql(sql), pandas)
    srows, drows = canonical(scols, sdata), canonical(dcols, ddata)
    diff = next(((a, b) for a, b in zip(srows, drows) if a != b), None)
    return {
        "rows_match": len(sdata) == len(ddata),
        "schema_match": (sorted(c.lower() for c in scols)
                         == sorted(c.lower() for c in dcols)),
        # equal canonical forms <=> equal vhash (all cells are strings)
        "hash_match": srows == drows,
        "spark_rows": len(sdata),
        "oracle_rows": len(ddata),
        "first_diff": diff,
    }
