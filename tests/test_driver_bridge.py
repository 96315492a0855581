"""Standing regression test for the DRIVER's comparator path.

The round driver compares Spark and DuckDB results through pandas
frames (``toPandas()`` vs ``duckdb .df()``), which re-types what plain
python objects keep exact: HUGEINT floatifies (512 vs 512.0 — the
r4-r6 red class), raw DATE becomes midnight datetime64 on one side
only, NULL-bearing BOOLEAN renders None vs NaN, and list-valued cells
crash the sort outright (the r2 ``f_svd_embed`` error). The manual
gates (``scripts/oracle_check.py ORACLE_PANDAS=1`` and
``scripts/dtype_check.py``) police this, but only when someone runs
them; this test keeps one representative key per output-type class
green through the EXACT pandas bridge on every pytest run, so the next
type-class regression fails CI instead of a driver round.

Keys per class (all cheap at sf0.001):
  int         a1_a2_a9_dashboard_metrics  (count/sum/avg longs)
  float       ext_gini                    (rounded double ratios)
  string      f_scalar_strings
  ts_ntz      f_status_timestamps         (TIMESTAMP_NTZ outputs)
  date-string f_datetime_buckets          (day buckets as strings)
  bool        ext_data_quality            (non-null BOOLEAN flags)
"""

import pytest

from streaming_demos_spark import oracle_compare as OC
from tests.conftest import SF_DIR

CLASS_KEYS = [
    "a1_a2_a9_dashboard_metrics",
    "ext_gini",
    "f_scalar_strings",
    "f_status_timestamps",
    "f_datetime_buckets",
    "ext_data_quality",
]


@pytest.fixture(scope="module")
def duck():
    con = OC.duck_views(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("key", CLASS_KEYS)
def test_pandas_bridge_hash_match(spark, duck, key):
    OC.use_sf_dir(SF_DIR)
    import __spark_entry__ as E

    qdf = E.queries()[key](spark, SF_DIR)
    rec = OC.compare(qdf, duck, E.oracle_sql()[key], pandas=True)
    assert rec["rows_match"], f"{key}: row counts diverge"
    assert rec["hash_match"], (
        f"{key}: pandas-bridge hash mismatch — a type-class regression "
        f"(HUGEINT/DATE/nullable-bool/complex) has reached the driver "
        f"comparator path"
    )
