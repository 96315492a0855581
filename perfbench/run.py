"""Benchmark entry point.

    python3 perfbench/run.py --workload batch-short --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json``): ``batch-short`` times registered query
keys from ``keys.json``; ``stream-supplier-stats`` replays generated
order events through the supplier-stats pipeline.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and per-key job groups, prints the per-layer metrics,
writes the spans file and, when an untraced run of the same workload
left its numbers in the work directory, the tracing overhead.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Any error exits non-zero without printing it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import env  # noqa: E402
from stats import TAIL_PCT  # noqa: E402

STREAM = "stream-supplier-stats"


def load_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def span_s(tracer, name: str) -> float:
    """Seconds in spans called ``name``, leaving out the cold pass."""
    return sum(s["end"] - s["start"] for s in tracer.spans
               if s["name"] == name and s.get("tag") != "cold")


def stream_layers(m, res, tracer, groups) -> None:
    """Means per steady micro-batch; pipeline construction is one-off."""
    from trace import TASK_FIELDS, sum_groups

    c = sum_groups(groups, lambda g: g == "construct:stream")
    m["construct.py4j_s"] = span_s(tracer, "construct") - c["job_s"]
    m["construct.jobs"], m["construct.actions_s"] = c["jobs"], c["job_s"]
    steady = res["steady"]
    n = len(steady)
    ids = {f"batch:{p['batchId']}" for p in steady}
    x = sum_groups(groups, lambda g: g in ids)
    m["exec.s"] = x["job_s"] / n
    for k in ("jobs", "stages", *TASK_FIELDS):
        m[f"exec.{k}"] = x[k] / n

    def mean_ms(field):
        return sum(p["durationMs"].get(field, 0) for p in steady) / n

    m["sources.latest_offset_ms"] = mean_ms("latestOffset")
    m["sources.get_batch_ms"] = mean_ms("getBatch")
    m["streaming.add_batch_ms"] = mean_ms("addBatch")
    m["streaming.query_planning_ms"] = mean_ms("queryPlanning")
    m["streaming.wal_commit_ms"] = mean_ms("walCommit")
    m["streaming.commit_offsets_ms"] = mean_ms("commitOffsets")
    rows = sum(p["numInputRows"] for p in steady)
    late = sum(res["late_rows"].values())
    m["streaming.input_rows"] = rows / n
    m["streaming.late_rows"] = late / n
    m["streaming.late_share"] = late / rows
    ops = [p["stateOperators"][0] for p in steady if p.get("stateOperators")]
    if ops:
        m["state.rows_total"] = sum(o["numRowsTotal"] for o in ops) / len(ops)
        m["state.memory_bytes"] = sum(o["memoryUsedBytes"] for o in ops) / len(ops)
        m["state.update_ms"] = sum(o["allUpdatesTimeMs"] for o in ops) / len(ops)
        m["state.commit_ms"] = sum(o["commitTimeMs"] for o in ops) / len(ops)
    sinks = res["sink_s"].values()
    m["sinks.stats_write_s"] = sum(v["stats"][1] - v["stats"][0] for v in sinks) / n
    m["sinks.late_write_s"] = sum(v["late"][1] - v["late"][0] for v in sinks) / n
    m["sinks.rows_written"] = sum(res["rows_written"].values()) / n


def batch_layers(m, res, tracer, groups, n_keys) -> None:
    """Totals over the timed key runs, scaled to one pass of the list."""
    from trace import TASK_FIELDS, sum_groups

    scale = n_keys / res["n_ops"]

    def timed(prefix):
        return sum_groups(groups, lambda g: g.startswith(prefix) and ":cold:" not in g)

    c = timed("construct:")
    m["construct.py4j_s"] = (span_s(tracer, "construct") - c["job_s"]) * scale
    m["construct.jobs"] = c["jobs"] * scale
    m["construct.actions_s"] = c["job_s"] * scale
    m["plan.s"] = span_s(tracer, "plan") * scale
    m["exec.s"] = span_s(tracer, "exec") * scale
    x = timed("exec:")
    for k in ("jobs", "stages", *TASK_FIELDS):
        m[f"exec.{k}"] = x[k] * scale
    samples = res["storage_samples"]
    m["exec.persisted_rdds"] = sum(n for n, _ in samples) / len(samples)
    m["exec.cached_bytes"] = sum(b for _, b in samples) / len(samples)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> dict:
    spec = load_json(os.path.join(env.ROOT, "BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated tables (default datagen.SF)")
    ap.add_argument("--cpus", type=int, default=0, help="local[N]; default: half the cpus")
    args = ap.parse_args(argv)

    t_setup = time.perf_counter()
    pinned = env.pin(args.cpus or None)
    import streaming_demos_spark  # noqa: F401  fail fast without the engine

    import batch
    import datagen
    import stream
    from trace import NullTracer, Tracer, read_event_log

    run_dir = os.path.join(env.WORK, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    keys = None
    if args.workload != STREAM:
        keys = load_json(os.path.join(HERE, "keys.json"))["workloads"][args.workload]["keys"]
        data_dir = os.path.join(run_dir, "data")
        datagen.write_tables(data_dir, args.sf or datagen.SF, datagen.DATA_SEED)

    spark, session_s = env.start_spark(f"perfbench-{args.workload}", log_dir)
    try:
        pid = env.jvm_pid(spark)
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        noise = env.Noise(spark, pid)
        if keys:
            from oracle import Oracle

            oracle = Oracle(data_dir)
            try:
                before = time.perf_counter()
                res = batch.run(spark, keys, data_dir, args.seed, args.seconds,
                                tracer, noise, oracle)
            finally:
                oracle.close()
            setup_s = before - t_setup + res["cold_s"]
        else:
            before = time.perf_counter()
            res = stream.run(spark, args.seed, args.seconds, tracer, noise, run_dir)
            setup_s = before - t_setup + res["gen_s"] + res["cold_s"]
        peak = env.rss_mb(pid, "VmHWM")
        rss = env.retained_rss_mb(spark, pid)
    finally:
        stop_spark(spark)

    e2e = {"setup_s": setup_s, **res["metrics"], "rss_mb": rss}
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, unit in e2e_units.items():
        print(f"{name} {e2e[name]:.6g} {unit}")
    print(f"op_s.tail {e2e['op_s.tail']:.6g} s (nearest-rank p{TAIL_PCT}, n={res['n_ops']}; annotation)")
    print(f"failed_ratio {res['failed'] / res['attempted']:.6g} "
          f"({res['failed']}/{res['attempted']}, mismatched: {res['mismatched'] or 'none'})")
    print(f"peak rss {peak:.1f} MiB (annotation)")
    print(f"noise {json.dumps(noise.summary())}  passes {res['passes']}  "
          f"env {json.dumps(pinned)}")
    if "per_key" in res:
        print(f"per-key fastest s {json.dumps(res['per_key'])}")

    last = os.path.join(env.WORK, f"last_untraced_{args.workload}.json")
    if args.trace:
        groups = read_event_log(log_dir)
        layers = {m["name"]: 0.0 for m in spec["per_layer"]}
        layers["session.start_s"] = session_s
        layers["session.warmup_s"] = res["cold_s"]
        if keys:
            batch_layers(layers, res, tracer, groups, len(keys))
        else:
            stream_layers(layers, res, tracer, groups)
        overhead = {}
        if os.path.exists(last):
            base = load_json(last)
            overhead = {k: e2e[k] - base[k] for k in e2e if k in base}
            print(f"tracing overhead (traced - untraced) {json.dumps(overhead)}")
        spans = os.path.join(env.WORK, "spans", f"{args.workload}_seed{args.seed}.jsonl")
        tracer.write(spans, {"workload": args.workload, "seed": args.seed,
                             "end_to_end": e2e, "tracing_overhead": overhead})
        print(f"spans {spans}")
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        with open(last, "w") as fh:
            json.dump(e2e, fh)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    result = {"correct": res["failed"] == 0, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
