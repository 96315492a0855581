"""Driver-style correctness check: run queries() vs oracle_sql() on a
plain SparkSession and print one line per key. Usage:
    python scripts/oracle_check.py [sf_dir] [key1,key2,...]

The comparison itself lives in ``streaming_demos_spark.oracle_compare``;
``TABLES`` and ``vhash`` are re-exported here for callers that load this
script by path (the benchmark's oracle check).
"""
import os
import sys

from pyspark.sql import SparkSession

# The repo root goes on the driver's sys.path and, through PYTHONPATH,
# on the Python workers' (inherited by the JVM the session launches):
# the Python-UDF keys' workers import the engine too.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

from streaming_demos_spark import oracle_compare as OC  # noqa: E402
from streaming_demos_spark.oracle_compare import TABLES, vhash  # noqa: E402,F401

OC.use_sf_dir(SF)


def main():
    # ORACLE_MASTER / ORACLE_SHUFFLE override the session shape for the
    # partitioning-stress sweep (e.g. local[3] + 7 shuffle partitions):
    # identical hashes under a different task layout prove no result
    # depends on partition count, scheduling, or summation order.
    spark = (
        SparkSession.builder.master(os.environ.get("ORACLE_MASTER", "local[8]"))
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("ORACLE_SHUFFLE", "200"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # ORACLE_TZ != UTC is the timezone-sensitivity gate: outputs
        # must not depend on the harness session zone (DuckDB stays
        # naive/UTC, so any session-tz leak into an output hash-fails).
        .config(
            "spark.sql.session.timeZone",
            os.environ.get("ORACLE_TZ", "UTC"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E

    con = OC.duck_views(SF)
    Q, O = E.queries(), E.oracle_sql()
    keys = sys.argv[2].split(",") if len(sys.argv) > 2 else list(Q)
    # ORACLE_PANDAS=1 routes BOTH result sets through pandas frames, as
    # the reference comparison does (see oracle_compare._spark_result).
    use_pandas = os.environ.get("ORACLE_PANDAS") == "1"
    n_ok = n_bad = 0
    for key in keys:
        try:
            qdf = Q[key](spark, SF)
            if key not in O:
                print(f"{key}: rows-only {len(qdf.collect())}", flush=True)
                continue
            rec = OC.compare(qdf, con, O[key], pandas=use_pandas)
            ok = rec["hash_match"]
            n_ok += ok
            n_bad += not ok
            print(f"{key}: rows {rec['spark_rows']}/{rec['oracle_rows']} "
                  f"hash_match {ok}", flush=True)
            if not ok:
                print(f"  schema_match {rec['schema_match']}", flush=True)
                if rec["first_diff"]:
                    a, b = rec["first_diff"]
                    print(f"  spark {a}\n  duck  {b}", flush=True)
        except Exception as ex:
            n_bad += 1
            print(f"{key}: ERR {str(ex)[:250]}", flush=True)
    print(f"SUMMARY ok={n_ok} bad={n_bad}", flush=True)


if __name__ == "__main__":
    main()
