"""Driver-comparator dtype gate: compare the SPARK plan schema against
the DUCKDB planned result types for every (queries, oracle_sql) pair —
WITHOUT executing either side.

Why this exists (round 7): the driver's comparator materializes both
results through a pandas/Arrow path.  DuckDB types ``sum(BIGINT)`` /
``sum(CASE ...)`` as HUGEINT (int128), which pandas can only hold as
float64 — so a value-identical result hash-mismatches against Spark's
int64 (``512.0`` vs ``512``).  Every round-4..6 driver-red key (10/10)
had exactly one or more HUGEINT oracle columns and nothing else wrong;
local checkers compared python objects and could never see it.

Rules enforced per output column (matched by name, case-insensitive):
  * duckdb type must not be HUGEINT/UHUGEINT/unsigned/DECIMAL — these
    floatify (or objectify) under pandas;
  * the numeric CLASS must agree: int-family vs int-family, float vs
    float, bool vs bool — int-vs-float on EITHER side is a latent
    driver-red even when values are equal;
  * (round 8) no ARRAY/MAP/STRUCT output column on either side — the
    comparator sorts pandas tuples, and a list-valued cell crashes it
    (``TypeError: unhashable type`` — the r2 ``f_svd_embed`` class);
  * (round 8) no schema-NULLABLE BOOLEAN Spark output column — a NULL
    renders Spark ``None`` vs DuckDB ``NaN`` through the bridge (the
    ``llm_embedding_outliers`` class): coalesce the flag on both sides;
  * (round 8) no raw DATE output column on either side — DuckDB DATE
    arrives as ``datetime.date`` while Spark's bridges to a midnight
    ``datetime64`` (format dates as strings instead).

Usage: python scripts/dtype_check.py [sf_dir] [key1,key2,...]
Exit code 1 if any flag.
"""
import os
import re
import sys

from pyspark.sql import SparkSession
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_demos_spark import oracle_compare as OC  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OC.use_sf_dir(SF)

BAD_DUCK = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT",
            "UTINYINT"}
INT_DUCK = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}
FLOAT_DUCK = {"FLOAT", "DOUBLE"}


def duck_class(t: str) -> str:
    if t in INT_DUCK:
        return "int"
    if t in FLOAT_DUCK or t.startswith("DECIMAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "VARCHAR":
        return "str"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "ts"
    return "other"


def spark_class(dt) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    return "other"


def pair_flags(key: str, duck: dict, spark_fields) -> list:
    """All bridge-divergence flags for one (duckdb types, spark schema)
    pair — factored out of main() so tests can seed each rule class and
    prove the gate still catches it (the gate that polices regressions
    must itself be regression-tested)."""
    flags = []
    for c, dt in duck.items():
        if dt in BAD_DUCK or dt.startswith("DECIMAL"):
            flags.append((key, c, f"duckdb {dt} floatifies in pandas"))
        if (re.search(r"\[\d*\]$", dt)  # LIST 'T[]' AND fixed 'T[3]'
                or dt.startswith(("STRUCT", "MAP"))):
            flags.append(
                (key, c, f"duckdb {dt} is unhashable in the pandas"
                         " comparator sort"))
        if dt == "DATE":
            flags.append(
                (key, c, "duckdb DATE bridges as datetime.date vs"
                         " Spark datetime64 — format as string"))
    for c, f in ((f.name.lower(), f) for f in spark_fields):
        dt = f.dataType
        if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
            flags.append(
                (key, c, f"spark {dt.simpleString()} is unhashable in"
                         " the pandas comparator sort"))
        if isinstance(dt, T.BooleanType) and f.nullable:
            flags.append(
                (key, c, "schema-nullable BOOLEAN: NULL renders None"
                         " vs NaN through the bridge — coalesce both"
                         " sides"))
        if isinstance(dt, T.DateType):
            flags.append(
                (key, c, "spark DATE bridges as midnight datetime64"
                         " vs duckdb datetime.date — format as"
                         " string"))
        if c in duck:
            sc, dc = spark_class(dt), duck_class(duck[c])
            if sc != dc and {"int", "float", "bool"} & {sc, dc}:
                flags.append(
                    (key, c, f"class mismatch spark={dt.simpleString()}"
                             f" duckdb={duck[c]}"))
    return flags


def main() -> None:
    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    con = OC.duck_views(SF)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    flags, errs, n = [], [], 0
    for key, sql in oracles.items():
        if only and key not in only:
            continue
        n += 1
        try:
            rel = con.sql(sql)
            duck = {c.lower(): str(t) for c, t in zip(rel.columns, rel.types)}
            sdf = qs[key](spark, SF)
        except Exception as e:  # pragma: no cover - report and continue
            errs.append((key, str(e)[:160]))
            continue
        flags.extend(pair_flags(key, duck, sdf.schema.fields))
    for k, c, msg in flags:
        print(f"FLAG {k}.{c}: {msg}")
    for k, e in errs:
        print(f"ERR {k}: {e}")
    print(f"SUMMARY checked={n} flags={len(flags)} errs={len(errs)}")
    spark.stop()
    if flags:
        sys.exit(1)


if __name__ == "__main__":
    main()
