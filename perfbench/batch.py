"""The batch workload: registered query keys run through
``__spark_entry__.queries()[key]`` and a ``noop`` write.

A run makes one cold pass and ``WARM_PASSES`` warm-up passes (part of
set-up), then timed passes in a seed-shuffled key order until the time
is up, then checks each key's result hash against the DuckDB oracle
outside the timed region.
"""

from __future__ import annotations

import random
import time

from stats import TAIL_PCT, median, percentile

# Untimed noop passes after the cold pass. The JIT keeps making passes
# faster after the cold one (2.1, 1.9, 1.9, 1.6, 1.7 s ... then about
# 1.4-1.5 s at local[2] on 4 vCPUs); skipping the steep part keeps the
# result from moving with how many passes happen to fit in the window.
WARM_PASSES = 4


def run_key(spark, build, data_dir, key, tracer, tag, collect=False):
    """Build and execute one key. Traced runs split the call into
    construction (L1+L2), forced physical planning (L3) and execution
    (L4), each under its own job group. Execution is a noop write, or a
    collect when the result is wanted for the oracle check."""
    with tracer.span("query", key=key, tag=tag):
        with tracer.span("construct", group=f"construct:{tag}:{key}", key=key, tag=tag):
            df = build(spark, data_dir)
        if tracer.enabled:
            with tracer.span("plan", group=f"plan:{tag}:{key}", key=key, tag=tag):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("exec", group=f"exec:{tag}:{key}", key=key, tag=tag):
            if collect:
                return df.columns, [tuple(r) for r in df.collect()]
            df.write.format("noop").mode("overwrite").save()
    return None


def storage(sc) -> tuple[int, int]:
    """Persisted RDDs and their cached bytes (memory + disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def run(spark, keys, data_dir, seed, seconds, tracer, noise, oracle):
    """The cold pass collects every result (set-up, and the values the
    oracle check compares) and ``WARM_PASSES`` noop passes follow it; the
    timed passes then run in seed-shuffled order until ``seconds`` have
    elapsed. The pass in progress is never cut short, so every pass
    times every key."""
    import __spark_entry__ as entry

    queries = entry.queries()
    sc = spark.sparkContext
    t0 = time.perf_counter()
    results = {}
    for i in range(1 + WARM_PASSES):
        for key in keys:
            try:
                got = run_key(spark, queries[key], data_dir, key, tracer, "cold", collect=i == 0)
            except Exception as exc:  # noqa: BLE001 - a failed key fails the check
                print(f"[perfbench] {key} failed: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            if i == 0:
                results[key] = got
    cold_s = time.perf_counter() - t0

    rng = random.Random(seed)
    per_key, passes, samples = [], [], []
    failed_runs = 0
    noise.start_window()
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        order = list(keys)
        rng.shuffle(order)
        start = time.perf_counter()
        for key in order:
            k0 = time.perf_counter()
            try:
                run_key(spark, queries[key], data_dir, key, tracer, f"p{len(passes)}")
                per_key.append((key, time.perf_counter() - k0))
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                failed_runs += 1
                print(f"[perfbench] {key} failed: {type(exc).__name__}: {str(exc)[:200]}")
            if tracer.enabled:
                samples.append(storage(sc))
        passes.append(time.perf_counter() - start)
    noise.end_window()

    mismatched = {k for k in keys if k not in results
                  or oracle.hash(*results[k]) != oracle.expected(k)}
    rows_per_pass = sum(len(results[k][1]) for k in results)
    times = [t for _, t in per_key]
    # each key's fastest timed run: a sample slowed by CPU steal or a
    # collector pause drops out, as in bench.py's sum of minimums
    fastest = {k: min(t for kk, t in per_key if kk == k)
               for k in keys if any(kk == k for kk, _ in per_key)}
    pass_s = sum(fastest.values())
    return {
        "cold_s": cold_s,
        "attempted": len(per_key) + failed_runs,
        "failed": failed_runs + sum(1 for k, _ in per_key if k in mismatched),
        "mismatched": sorted(mismatched),
        "passes": [round(x, 3) for x in passes],
        "metrics": {
            "pass_s": pass_s,
            "op_s.p50": median(fastest.values()),
            "op_s.tail": percentile(times, TAIL_PCT),
            "rows_per_s": rows_per_pass / pass_s,
        },
        "n_ops": len(times),
        "storage_samples": samples,
        "per_key": {k: round(t, 4) for k, t in fastest.items()},
    }
