"""Compute-bound core-scaling probe (VERDICT r11 task 7): at sf0.1 the
whole suite is bounded by per-query fixed cost (driver actions,
analysis, py4j), so c8 vs c32 reads ~1.0 and proves nothing about the
plans. This probe times keys on the 10x corpus (built by
scale_probe.py — FK-consistent key-shifted copies, per-copy word
prefixes) where executor compute dominates, at the CURRENT
SPARK_GRAFT_CPUS. Run it twice (SPARK_GRAFT_CPUS=32, then 8) and
compare: map-heavy keys should approach the core ratio; fixed-cost
keys stay flat.

Usage:
    SPARK_GRAFT_CPUS=32 python scripts/core_scaling_probe.py [keys] [reps]

Prints one JSON line {"cpus": C, "n": 10, "queries": {key: min_sec}}.
Interleaved min-of-N passes (bench.py's noise-robust estimator) after
one warmup pass at sf0.001.
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from streaming_demos_spark.session import get_spark  # noqa: E402

DST = os.path.join(REPO, ".scratch", "scale10x")
DEFAULT_KEYS = [
    # the top compute keys at sf0.1 (driver c8 detail + r12 profiling)
    "llm_minhash_lsh_eval",
    "llm_quality_eval",
    "llm_dedup_keep_best",
    "llm_dedup_report",
    "llm_cluster_split",
    "llm_dedup_clusters",
    "llm_dup_cluster_sizes",
    "llm_dedup_containment",
    "llm_dedup_jaccard",
    "llm_lr_sweep",
    "mm_phash_neardup",
    "mm_frame_sample",
    "ext_weighted_median",
    "ext_quantile_summary",
    "ext_grouped_mad",
    "ext_robust_anomalies",
    "ext_theil_sen",
    "llm_quality_drift",
    "ext_bootstrap_ci",
    "llm_winnow_overlap",
]


def main() -> None:
    keys = sys.argv[1].split(",") if len(sys.argv) > 1 else DEFAULT_KEYS
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="core_scaling_probe")
    import __spark_entry__ as E

    if not os.path.isdir(f"{DST}/lineitem.parquet"):
        print("build the 10x corpus first: python scripts/scale_probe.py 10",
              file=sys.stderr)
        sys.exit(2)
    Q = E.queries()
    for key in keys:  # warmup: compile codegen on tiny data
        try:
            Q[key](spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite").save()
        except Exception:  # noqa: BLE001
            pass
    best: dict[str, float] = {}
    for rep in range(reps):
        for key in keys:
            t0 = time.perf_counter()
            Q[key](spark, DST).write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            if key not in best or el < best[key]:
                best[key] = round(el, 3)
            print(f"[c-probe] pass {rep} {key}: {el:.2f}s", file=sys.stderr)
    print(json.dumps({
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "n": 10,
        "queries": best,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
