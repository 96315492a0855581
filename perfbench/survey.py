"""Measure every registered key once on the benchmark's generated data.

For each key it records construction seconds and the Spark jobs fired
while the builder runs (L2), noop-execution seconds and jobs, and
whether the result hash matches the DuckDB oracle. ``keys.py`` derives
the batch workloads' key lists from this file and ``bench_detail.json``.

    python3 perfbench/survey.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402


def main() -> None:
    env.pin()
    import datagen
    from oracle import Oracle

    data_dir = os.path.join(env.WORK, "survey")
    datagen.write_tables(data_dir, datagen.SF, datagen.DATA_SEED)
    spark, _ = env.start_spark("perfbench-survey")
    import __spark_entry__ as entry

    sc = spark.sparkContext
    queries = entry.queries()
    oracle = Oracle(data_dir)
    rows = {}
    for key in queries:
        row = rows[key] = {}
        try:
            sc.setJobGroup(f"construct:{key}", key)
            t0 = time.perf_counter()
            df = queries[key](spark, data_dir)
            row["construct_s"] = round(time.perf_counter() - t0, 4)
            row["construct_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"construct:{key}"))
            sc.setJobGroup(f"exec:{key}", key)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            row["exec_s"] = round(time.perf_counter() - t0, 4)
            row["exec_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"exec:{key}"))
            if key in oracle.sql:
                row["match"] = (oracle.hash(df.columns, [tuple(r) for r in df.collect()])
                                == oracle.expected(key))
        except Exception as exc:  # noqa: BLE001 - record and continue
            row["error"] = f"{type(exc).__name__}: {exc}"[:200]
        print(key, row, flush=True)
    spark.stop()
    with open(os.path.join(env.ROOT, "perfbench", "survey.json"), "w") as fh:
        json.dump({"sf": datagen.SF, "cpus": env.cpus(), "keys": rows}, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
