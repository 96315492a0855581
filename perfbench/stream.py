"""The supplier-stats stream: generated order events replayed as a
parquet file stream, one file per trigger, through
``with_event_time`` -> ``tag_late_stream`` -> ``run_supplier_stats``
with benchmark-owned sinks that write each micro-batch to parquet.

The loop is closed: with no trigger interval set, the next micro-batch
starts as soon as the previous one commits. After the run, the late rows
and the re-aggregated on-time stats are checked against the batch path
(``tag_late_batch`` + ``supplier_stats``) over the same input.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from datetime import datetime

import pyarrow.parquet as pq

import datagen
from stats import TAIL_PCT, median, percentile

# Traffic at the reference's cadence: one order per second of event time
# (its producer sleeps 1 s between orders; the engine's generator
# defaults to ``events_per_sec=1``). Each trigger replays a 20k-row
# backlog file, about 5.5 h of that traffic.
ROWS_PER_FILE = 20_000
EVENTS_PER_SEC = 1
# Untimed micro-batches: the JIT keeps making micro-batches faster for
# about ten of them (2.3, 2.1, 2.0 s ... then 1.4-1.7 s at local[2] on
# 4 vCPUs); the first eight are set-up. Twelve gave no steadier runs
# over ten seeds, and cost 6 s of set-up.
WARM_BATCHES = 8
PASS_BATCHES = 5
WINDOW_SEC, GRACE_SEC = 5, 5


def source_file(src: str, i: int) -> str:
    """The ``i``-th source file, read by micro-batch ``i``."""
    return os.path.join(src, f"part-{i:05d}.parquet")


class Feeder:
    """Writes the source one parquet file per trigger, keeping ``AHEAD``
    files queued so the closed loop never waits for input. Each file
    gets a later modification time than the one before, so the file
    source replays them in arrival order."""

    AHEAD = 2

    def __init__(self, src: str, seed: int):
        self.src, self.seed, self.written = src, seed, 0
        self.base = int(time.time()) - 100_000
        os.makedirs(src)

    def top_up(self, consumed: int) -> None:
        while self.written < consumed + self.AHEAD:
            i = self.written
            # the source ignores dot-files, so it never lists a half-written one
            tmp = os.path.join(self.src, f".part-{i:05d}.parquet")
            pq.write_table(
                datagen.order_events(self.seed, i * ROWS_PER_FILE, ROWS_PER_FILE, EVENTS_PER_SEC),
                tmp,
            )
            os.utime(tmp, (self.base + i, self.base + i))
            os.rename(tmp, source_file(self.src, i))
            self.written += 1


def run(spark, seed, seconds, tracer, noise, work):
    from streaming_demos_spark.streaming import supplier_stats as SS

    root = os.path.join(work, "stream")
    shutil.rmtree(root, ignore_errors=True)
    src, out, chk = (os.path.join(root, d) for d in ("src", "out", "chk"))
    t0 = time.perf_counter()
    feeder = Feeder(src, seed)
    feeder.top_up(0)
    gen_s = time.perf_counter() - t0

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    t0 = time.perf_counter()
    with tracer.span("construct", group="construct:stream"):
        schema = spark.read.parquet(source_file(src, 0)).schema
        events = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        tagged = SS.tag_late_stream(
            SS.with_event_time(events), "supplier", window_sec=WINDOW_SEC, grace_sec=GRACE_SEC
        )

    sink_s = defaultdict(dict)
    done = []

    def stats_writer(df, batch_id):
        s = time.perf_counter()
        df.write.mode("overwrite").parquet(os.path.join(out, "stats", f"batch={batch_id}"))
        sink_s[batch_id]["stats"] = (s, time.perf_counter())

    def late_writer(df, batch_id):
        s = time.perf_counter()
        df.write.mode("overwrite").parquet(os.path.join(out, "late", f"batch={batch_id}"))
        sink_s[batch_id]["late"] = (s, time.perf_counter())
        done.append(batch_id)

    def pump(until) -> None:
        while until():
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            time.sleep(0.005)

    query = SS.run_supplier_stats(tagged, stats_writer, late_writer, checkpoint_dir=chk)
    try:
        def warming():
            feeder.top_up(len(done))
            return len(done) < WARM_BATCHES

        pump(warming)
        cold_s = time.perf_counter() - t0
        noise.start_window()
        deadline = time.perf_counter() + seconds

        def feeding():  # until the deadline, and at least one full pass
            feeder.top_up(len(done))
            return (time.perf_counter() < deadline
                    or feeder.written < WARM_BATCHES + PASS_BATCHES)

        pump(feeding)
        # drain: every written file is consumed before the query stops,
        # so no micro-batch is cut off mid-write
        pump(lambda: len(done) < feeder.written)
        # the last batch posts its progress just after its sinks return
        pump(lambda: (query.lastProgress or {}).get("batchId", -1) < feeder.written - 1)
    finally:
        query.stop()
    noise.end_window()

    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    steady = [p for p in progress if p["batchId"] >= WARM_BATCHES]
    completed = sorted(done)
    n_done = next((i for i, b in enumerate(completed) if b != i), len(completed))
    bad, late_rows, written = check(spark, SS, src, out, n_done)

    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in steady]
    ends = {b: sink_s[b]["late"][1] for b in completed}
    # micro-batch periods, one sink completion to the next: the trigger
    # plus the gap before the next one starts
    periods = [ends[b] - ends[b - 1] for b in range(WARM_BATCHES, n_done)
               if b - 1 in ends and b in ends]
    period = median(periods)
    # progress stamps trigger starts in wall-clock time; spans use perf_counter
    shift = time.time() - time.perf_counter()
    for p in steady:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() - shift
        tracer.record("micro_batch", start, start + p["durationMs"]["triggerExecution"] / 1e3,
                      batch=p["batchId"])
    for b, ws in sink_s.items():
        for which, (s, e) in ws.items():
            tracer.record(f"sinks.{which}_write", s, e, batch=b)
    steady_ids = {p["batchId"] for p in steady}
    return {
        "gen_s": gen_s,
        "cold_s": cold_s,
        "attempted": n_done,
        "failed": len(bad) + (len(completed) - n_done),
        "mismatched": sorted(bad),
        "passes": [round(x, 3) for x in periods],
        "metrics": {
            "pass_s": PASS_BATCHES * period,
            "op_s.p50": median(trig),
            "op_s.tail": percentile(trig, TAIL_PCT),
            "rows_per_s": ROWS_PER_FILE / period,
        },
        "n_ops": len(trig),
        "steady": steady,
        "sink_s": {b: v for b, v in sink_s.items() if b in steady_ids},
        "late_rows": {b: n for b, n in late_rows.items() if b in steady_ids},
        "rows_written": {b: n for b, n in written.items() if b in steady_ids},
    }


def check(spark, SS, src, out, n_batches):
    """Compare the first ``n_batches`` micro-batches with the batch path
    over the same files. The comparison runs in Spark and collects only
    per-batch figures. Returns the batch ids that disagree, and the late
    rows and total rows each batch wrote."""
    from pyspark.sql import functions as F

    paths = [source_file(src, i) for i in range(n_batches)]
    tagged = SS.tag_late_batch(
        SS.with_event_time(spark.read.parquet(*paths)), "supplier", "seq",
        window_sec=WINDOW_SEC, grace_sec=GRACE_SEC,
    ).cache()

    def sink(which):  # the sinks write one ``batch=<id>`` directory per micro-batch
        return spark.read.parquet(os.path.join(out, which)).filter(F.col("batch") < n_batches).cache()

    late, stats = sink("late"), sink("stats")
    exp_late = tagged.filter("is_late").select(
        F.floor(F.col("seq") / ROWS_PER_FILE).cast("int").alias("batch"), F.col("order_id").alias("key"))
    got_late = late.select("batch", "key")
    bad = {r.batch for r in exp_late.exceptAll(got_late).union(got_late.exceptAll(exp_late))
           .select("batch").distinct().collect()}

    # on-time stats re-aggregated over the micro-batches against the batch path
    cell = ["window_start", "window_end", "supplier"]
    got = stats.groupBy(*cell).agg(
        F.sum("total_price").alias("got_total"), F.sum("count").alias("got_count"),
        F.collect_set("batch").alias("batches"))
    exp = SS.supplier_stats(tagged.filter(~F.col("is_late")))
    wrong = (got.join(exp, cell, "full_outer")
             .filter(F.coalesce(F.abs(F.col("got_total") - F.col("total_price")) > 1e-6, F.lit(True))
                     | ~F.coalesce(F.col("got_count") == F.col("count"), F.lit(False)))
             .select("batches").collect())
    for r in wrong:
        bad |= set(r.batches or range(n_batches))

    # every input row of a batch is counted once: on time in stats, or late
    late_rows = dict.fromkeys(range(n_batches), 0)
    written = dict.fromkeys(range(n_batches), 0)
    rows_in = dict.fromkeys(range(n_batches), 0)
    for r in late.groupBy("batch").count().collect():
        late_rows[r.batch] = written[r.batch] = r["count"]
    for r in stats.groupBy("batch").agg(F.count("*").alias("n"), F.sum("count").alias("rows")).collect():
        written[r.batch] += r.n
        rows_in[r.batch] = r.rows
    bad |= {b for b in range(n_batches) if rows_in[b] + late_rows[b] != ROWS_PER_FILE}
    for df in (tagged, late, stats):
        df.unpersist()
    return bad, late_rows, written
