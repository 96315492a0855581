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
