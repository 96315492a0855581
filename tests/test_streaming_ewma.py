"""Batch ≡ stream duality for the bounded-lookback EWMA."""

import shutil
import tempfile

import pytest

from streaming_demos_spark.operators import relational as R
from streaming_demos_spark.streaming.timeseries import streaming_ewma


@pytest.fixture(scope="module")
def dirs(scratch_dir):
    d = tempfile.mkdtemp(prefix="sparkgraft_ewma_", dir=scratch_dir)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows():
    # two keys, interleaved times, one null (dropped by contract),
    # more rows than the lookback for key 1
    rows = []
    for i in range(24):
        rows.append((1, i, float((i * 7) % 13)))
    rows += [(2, 0, 5.0), (2, 1, None), (2, 2, 10.0)]
    return rows


def test_streaming_ewma_matches_batch(spark, dirs):
    src, chk = f"{dirs}/src", f"{dirs}/chk"
    schema = "user_id int, ts int, value double"
    df = spark.createDataFrame(_rows(), schema)
    # several files -> several micro-batch splits under availableNow
    df.repartition(4).write.mode("overwrite").parquet(src)

    batch = {
        (r.user_id, r.ts): r.ewma
        for r in R.ewma_smooth(
            df, "user_id", "ts", "value", "ts", alpha=0.3, lookback=8
        ).collect()
    }

    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_ewma(
        stream, "user_id", "ts", "value", "ts", alpha=0.3, lookback=8
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_stream")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.ts): r.ewma
        for r in spark.sql("SELECT * FROM ewma_stream").collect()
    }
    # NOTE: a single availableNow pass over unsorted files can interleave
    # rows across batches out of ts order per key; the parquet source
    # with maxFilesPerTrigger=default reads all files in one batch and
    # the processor sorts within the batch, so order holds here.
    assert got == batch


def test_streaming_ewma_state_carries_across_batches(spark, dirs):
    """Feed the same key in two ordered chunks via two availableNow
    passes against a growing directory: the second chunk's first row
    must see the first chunk's tail (state), matching the batch result
    over the concatenation."""
    import glob
    import os

    src, chk = f"{dirs}/inc_src", f"{dirs}/inc_chk"
    os.makedirs(src, exist_ok=True)
    schema = "user_id int, ts int, value double"

    def land(name, rows):
        tmp = f"{dirs}/tmp_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/{name}.parquet")

    collected = []

    def run_pass():
        # memory sink cannot resume from a checkpoint; foreachBatch can,
        # which is what makes the second pass see the first pass's state
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_ewma(
            stream, "user_id", "ts", "value", "ts", alpha=0.5, lookback=4
        )
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, _bid: collected.extend(bdf.collect())
            )
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    chunk1 = [(7, 0, 4.0), (7, 1, 8.0)]
    chunk2 = [(7, 2, 2.0), (7, 3, 6.0)]
    land("a", chunk1)
    run_pass()
    land("b", chunk2)
    run_pass()

    got = {r.ts: r.ewma for r in collected}
    df = spark.createDataFrame(chunk1 + chunk2, schema)
    batch = {
        r.ts: r.ewma
        for r in R.ewma_smooth(
            df, "user_id", "ts", "value", "ts", alpha=0.5, lookback=4
        ).collect()
    }
    assert got == batch


def test_streaming_decayed_engagement_matches_batch(spark, dirs):
    """Streaming frecency state telescopes to the batch operator
    evaluated at the key's final event time."""
    import datetime

    from streaming_demos_spark.operators import curation as CU
    from streaming_demos_spark.streaming.timeseries import (
        streaming_decayed_engagement,
    )

    src, chk = f"{dirs}/dec_src", f"{dirs}/dec_chk"
    base = datetime.datetime(2024, 1, 1)
    end = datetime.datetime(2024, 1, 4)
    rows = []
    for u in (1, 2):
        for d in range(3):
            rows.append(
                (u, base + datetime.timedelta(days=d, hours=u), float(u * d))
            )
        rows.append((u, end, 1.0))  # both keys end at the same instant
    schema = "user_id int, ts timestamp, value double"
    df = spark.createDataFrame(rows, schema)
    df.repartition(3).write.mode("overwrite").parquet(src)

    batch = {
        r.user_id: (r.n_events, r.decayed_count, r.decayed_value)
        for r in CU.decayed_engagement(
            df, "user_id", "ts", "value", "2024-01-04 00:00:00"
        ).collect()
    }

    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_decayed_engagement(stream, "user_id", "ts", "value")
    q = (
        out.writeStream.format("memory")
        .queryName("dec_stream")
        .option("checkpointLocation", chk)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_events, r.decayed_count, r.decayed_value)
        for r in spark.sql(
            "SELECT * FROM dec_stream ORDER BY n_events"
        ).collect()
    }
    # memory sink in update mode may hold several emissions per key —
    # keep the final (max n_events) per key
    final = {}
    for r in spark.sql("SELECT * FROM dec_stream").collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.decayed_count, r.decayed_value)
    for u in batch:
        bn, bdc, bdv = batch[u]
        sn, sdc, sdv = final[u]
        assert sn == bn
        assert abs(sdc - bdc) < 2e-6
        assert abs(sdv - bdv) < 2e-6
