"""Derive the batch workloads' key lists from committed measurements and
write them to ``keys.json``.

Inputs:
- ``bench_detail.json`` at the repo root: per-key seconds of the full
  341-key sweep at sf0.1 (min of three interleaved passes);
- ``perfbench/survey.json``: per-key construction jobs and seconds on the
  benchmark's generated data (``survey.py``).

Rules:
- batch-short: keys under 1 s in the sweep, from the families tpch,
  relational (a/o/p/j/f), s10 CDC, eval, llm and ext, that fire fewer
  than ``MAX_BUILD_JOBS`` jobs while being built; per family, the key of
  median sweep time. One key per family keeps a run's cold pass short
  enough for the benchmark's time budget. Then, while the picks generate
  more than ``CODEGEN_BUDGET`` classes together, the pick that generates
  the most is dropped, so that every class stays in Spark's codegen
  cache across passes.

    python3 perfbench/keys.py
"""

from __future__ import annotations

import json
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_BUILD_JOBS = 5
# Classes Spark generated for each family's pick on its first run, the
# picks run in turn in a fresh session at sf0.01 (count of
# ``CodegenMetrics.METRIC_COMPILATION_TIME``). Spark caches generated
# classes in a 100-entry Guava cache, which splits its entries into four
# segments of 25 and evicts per segment. With all six picks (111
# classes) every pass recompiled 73 of them, and with five (87) still
# 21; the JIT compiler then never settles, and pass times differed by up
# to 30% between runs of the same code. With 63 classes a pass
# recompiles none.
CODEGEN_CLASSES = {
    "a4_metric_deltas": 20,
    "eval_auc": 16,
    "ext_window_suite": 26,
    "llm_whiten_embeddings": 9,
    "s10_snapshot_diff": 18,
    "tpch_q11": 22,
}
CODEGEN_BUDGET = 66
FAMILIES = [
    ("tpch", r"tpch_"),
    ("relational", r"[aopjf]\d+_"),
    ("cdc", r"s10_"),
    ("eval", r"eval_"),
    ("llm", r"llm_"),
    ("ext", r"ext_"),
]


def family(key: str) -> str | None:
    return next((name for name, pat in FAMILIES if re.match(pat, key)), None)


def derive(sweep: dict[str, float], survey: dict[str, dict]) -> dict:
    sweep_total = sum(sweep.values())
    cand = {}
    for key, sec in sweep.items():
        fam = family(key)
        s = survey.get(key, {})
        if fam and sec < 1.0 and s.get("construct_jobs", MAX_BUILD_JOBS) < MAX_BUILD_JOBS:
            cand.setdefault(fam, []).append((sec, key))
    short = [sorted(ks)[len(ks) // 2][1] for ks in cand.values()]
    dropped = []
    while sum(CODEGEN_CLASSES[k] for k in short) > CODEGEN_BUDGET:
        dropped.append(max(short, key=CODEGEN_CLASSES.__getitem__))
        short.remove(dropped[-1])

    def share(keys):
        return round(sum(sweep.get(k, 0.0) for k in keys) / sweep_total, 4)

    return {
        "sweep_total_s": round(sweep_total, 3),
        "workloads": {
            "batch-short": {
                "rule": "sub-second in bench_detail.json, < %d construction jobs in survey.json, "
                        "the median-time key of each family; then the pick generating the most "
                        "classes dropped while the picks generate more than %d"
                        % (MAX_BUILD_JOBS, CODEGEN_BUDGET),
                "keys": sorted(short),
                "codegen_classes": {k: CODEGEN_CLASSES[k] for k in sorted(short)},
                "dropped_for_codegen_cache": {k: CODEGEN_CLASSES[k] for k in dropped},
                "share_of_sweep": share(short),
            },
        },
    }


def main() -> None:
    with open(os.path.join(ROOT, "bench_detail.json")) as fh:
        sweep = json.load(fh)["queries"]
    with open(os.path.join(HERE, "survey.json")) as fh:
        survey = json.load(fh)["keys"]
    with open(os.path.join(HERE, "keys.json"), "w") as fh:
        json.dump(derive(sweep, survey), fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
