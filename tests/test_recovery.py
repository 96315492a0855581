"""T11/T12: checkpoint recovery and exactly-once sink semantics — a
stream stopped and restarted from the same checkpoint must process each
input exactly once (Main.kt:53-78's checkpointing contract restated on
Spark's offset-log + idempotent-writer model)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from streaming_demos_spark.streaming import generator as G


@pytest.fixture()
def dirs(scratch_dir):
    d = tempfile.mkdtemp(prefix="sparkgraft_recov_", dir=scratch_dir)
    os.makedirs(f"{d}/src")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drop_file(spark, d, name, ids):
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    tmp = f"{d}/tmp_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], f"{d}/src/{name}.parquet")


def _run_once(spark, d, sink):
    stream = spark.readStream.schema("id long").parquet(f"{d}/src")
    agg = stream.groupBy().agg(
        F.count("*").alias("n"), F.sum("id").alias("total")
    )

    def write(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            sink[batch_id] = (rows[0]["n"], rows[0]["total"])

    q = (
        agg.writeStream.foreachBatch(write)
        .outputMode("complete")
        .option("checkpointLocation", f"{d}/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_restart_from_checkpoint_is_exactly_once(spark, dirs):
    sink: dict[int, tuple] = {}
    _drop_file(spark, dirs, "f1", range(10))
    _run_once(spark, dirs, sink)
    assert sink[0] == (10, 45)

    # second run, same checkpoint: f1 must NOT be reprocessed alone —
    # only the new file advances the query
    _drop_file(spark, dirs, "f2", range(10, 15))
    _run_once(spark, dirs, sink)
    # complete-mode aggregate state survived the restart: totals include
    # f1 exactly once plus f2
    assert sink[1] == (15, sum(range(15)))

    # third run with NO new input: no new batch fires at all
    before = dict(sink)
    _run_once(spark, dirs, sink)
    assert sink == before


def test_generator_is_deterministic_and_late_capable(spark):
    a = G.order_events_batch(spark, 20, events_per_sec=2).collect()
    b = G.order_events_batch(spark, 20, events_per_sec=2).collect()
    assert a == b  # fully deterministic workload
    rows = {r.seq: r for r in a}
    assert rows[0].supplier in G.SUPPLIERS and rows[0].item in G.ITEMS
    assert all(1.0 <= r.price < 150.0 for r in a)
    # bid_time lags the arrival clock -> out-of-order records exist
    bid_times = [r.bid_time for r in a]
    assert bid_times != sorted(bid_times)


def test_supplier_stats_restart_and_replay_are_exactly_once(spark, dirs):
    """The late tagger's carried stream time survives a restart, and a
    batch replayed from its offsets (commit lost) re-tags from the state
    the batch before it left: late rows and summed stats equal the batch
    path over all files, and the replay repeats the late rows."""
    from streaming_demos_spark.streaming import supplier_stats as SS

    orders = SS.with_event_time(G.order_events_batch(spark, 90, events_per_sec=2, max_delay_sec=20))
    exp = SS.tag_late_batch(orders, "supplier", "seq").cache()

    def drop(i):
        tmp = f"{dirs}/tmp_{i}"
        orders.filter(F.col("seq").between(30 * i, 30 * i + 29)).coalesce(1).write.parquet(tmp)
        dst = f"{dirs}/src/f{i}.parquet"
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    stats, late = {}, {}

    def run():
        stream = spark.readStream.schema(orders.schema).option("maxFilesPerTrigger", 1).parquet(f"{dirs}/src")
        q = SS.run_supplier_stats(
            SS.tag_late_stream(stream, "supplier"),
            stats_writer=lambda df, bid: stats.__setitem__(bid, df.collect()),
            late_writer=lambda df, bid: late.__setitem__(bid, sorted(r.key for r in df.collect())),
            checkpoint_dir=f"{dirs}/chk",
            trigger={"availableNow": True},
        )
        assert q.awaitTermination(180)
        assert q.exception() is None

    drop(0)
    drop(1)
    run()
    drop(2)
    run()
    assert sorted(stats) == [0, 1, 2]
    want_late = sorted(str(r.order_id) for r in exp.filter("is_late").collect())
    # 12 late rows, 4 of them late only by stream time from an earlier file
    assert len(want_late) == 12 and sorted(k for keys in late.values() for k in keys) == want_late
    cell = ("window_start", "window_end", "supplier")
    got = {}
    for rows in stats.values():
        for r in rows:
            t, n = got.get(tuple(r[c] for c in cell), (0.0, 0))
            got[tuple(r[c] for c in cell)] = (t + r.total_price, n + r["count"])
    want = SS.supplier_stats(exp.filter(~F.col("is_late"))).collect()
    assert set(got) == {tuple(r[c] for c in cell) for r in want}
    for r in want:
        t, n = got[tuple(r[c] for c in cell)]
        assert n == r["count"] and abs(t - r.total_price) < 1e-6

    # lose the last commit: batch 2 re-runs from the state batch 1 left
    before = late.pop(2)
    os.remove(f"{dirs}/chk/commits/2")
    crc = f"{dirs}/chk/commits/.2.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert late[2] == before
    assert len(os.listdir(f"{dirs}/chk/late_state")) <= 2
    exp.unpersist()
