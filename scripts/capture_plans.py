"""Capture the normalized plans of declared queries into
plans/<tag>/<key>_<suffix>.txt (the plan-identity evidence files).

Usage:
    python scripts/capture_plans.py <tag> <suffix> key1,key2,...|all [sf_dir]
    python scripts/capture_plans.py r11 before llm_dedup_containment
    python scripts/capture_plans.py /tmp/plans_a plan all

``all`` captures every key of ``queries()``. An absolute ``<tag>`` is
used as the output directory as is. Each file holds the optimized
logical plan and the ``explain("formatted")`` physical plan with the
run-specific parts normalized (see ``normalize``), so a refactor's
plan-identity gate is one ``diff -r`` of two captures. Capture the
baseline twice first: a key whose plan differs between two runs of the
same code (literals collected at construction) cannot be gated by plan
text and is checked by its oracle hash instead. So is a key whose plan
depends on what ran before it in the session: the distinct-aggregate
rewrite orders its groups by a hash of expression ids, so such a plan
can differ after a change to other keys; recapture the key alone at
both commits to tell.

Uses a plain driver-style session (no get_spark) so the captured plan
is the one the round driver would execute.
"""
import contextlib
import io
import os
import re
import sys

from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_LAMBDA = re.compile(r"lambda (\w+)#(\d+)")
_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_RDD = re.compile(r"(\w*RDD)\[\d+\] at (\w+) at [^,\]]+")


def normalize(text: str) -> str:
    """Make a plan text comparable across runs and across the two ways
    of building one expression (Column calls or one parsed SQL string).

    Lambda variables are renamed ``v0, v1, ...`` in order of first
    appearance of each binding (a binding is one ``name#exprId``), so
    PySpark's fresh names (``x_12``) and SQL's (``acc``, ``x``) compare
    equal while two variables of one lambda stay distinct. Then every
    remaining ``#<exprId>``, exchange ``plan_id``, and the id and
    call site of an RDD behind a checkpointed frame is dropped."""
    seen: dict[tuple[str, str], str] = {}

    def rename(m: re.Match) -> str:
        return "lambda " + seen.setdefault(m.groups(), f"v{len(seen)}")

    text = _LAMBDA.sub(rename, text)
    text = _RDD.sub(r"\1[] at \2", text)
    return _PLAN_ID.sub("plan_id=", _EXPR_ID.sub("#", text))


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    return normalize(
        "== Optimized Logical Plan ==\n" + optimized
        + "\n== Physical Plan ==\n" + buf.getvalue()
    )


def main() -> None:
    tag, suffix, keys = sys.argv[1], sys.argv[2], sys.argv[3]
    sf = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.01"

    if os.environ.get("PLAN_SESSION") == "bench":
        # Bench-shaped session (streaming_demos_spark.session.get_spark):
        # shows the plan the BENCH executes, including session-level
        # optimizer settings (e.g. the InferFiltersFromGenerate exclusion)
        # that a plain driver session does not carry.
        from streaming_demos_spark.session import get_spark

        spark = get_spark(app_name="capture_plans")
    else:
        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .getOrCreate()
        )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    Q = E.queries()
    outdir = os.path.join(ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for key in (list(Q) if keys == "all" else keys.split(",")):
        try:
            text = plan_text(Q[key](spark, sf))
        except Exception as e:  # record the failure; the diff shows it
            text = f"ERROR {type(e).__name__}: {e}\n"
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        n_ex = text.count("Exchange")
        n_reuse = text.count("ReusedExchange")
        n_py = sum(text.count(s) for s in ("EvalPython", "MapInArrow", "MapInPandas"))
        print(f"{key}: exchanges={n_ex} (reused={n_reuse}) "
              f"python_stages={n_py} -> {path}", flush=True)


if __name__ == "__main__":
    main()
