"""Streaming-semantics tests (SURVEY.md §5.2): crafted event sequences
with known stream-time behavior, replayed through both the batch analog
and the real Structured Streaming path with memory sinks.

The late-tagging sequences replicate the reference rule
``is_late ⇔ stream_time > window_end + grace`` with
``window_end = (floor(ts/size)+1)*size``
(orders-stats-streams/.../LateRecordProcessor.kt:46-64).
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from streaming_demos_spark.streaming import supplier_stats as SS

# Crafted sequence, window=5s grace=5s, one shard key.
# (seq, epoch_s, expected_is_late) — stream time = max prior epoch.
#   window_end(ts) = (ts//5+1)*5 ; late iff stream_time > window_end+5
SEQUENCE = [
    (0, 100, False),  # stream_time=-inf
    (1, 103, False),  # st=100, wend=105, 100 <= 110
    (2, 101, False),  # st=103, wend=105, 103 <= 110
    (3, 120, False),  # st=103 — big jump forward
    (4, 104, True),   # st=120, wend=105, 120 > 110 -> LATE
    (5, 112, False),  # st=120, wend=115, 120 <= 120 (boundary: NOT late)
    (6, 111, True),   # st=120, wend=115, 120 > 120 false... st still 120
]
# fix row 6: wend(111)=115, st=120 > 120? no -> not late. Recompute below.


def _expected():
    st = None
    out = []
    for seq, ts, _ in SEQUENCE:
        wend = (ts // 5 + 1) * 5
        late = st is not None and st > wend + 5
        out.append((seq, ts, late))
        st = ts if st is None else max(st, ts)
    return out


@pytest.fixture(scope="module")
def events_df(spark):
    rows = [
        ("s1", seq, f"2024-01-01 00:{ts // 60:02d}:{ts % 60:02d}")
        for seq, ts, _ in SEQUENCE
    ]
    df = spark.createDataFrame(rows, ["shard", "seq", "bid_time"])
    return SS.with_event_time(df)


def test_tag_late_batch_matches_reference_arithmetic(events_df):
    out = {
        r.seq: r.is_late
        for r in SS.tag_late_batch(
            events_df, "shard", "seq", window_sec=5, grace_sec=5
        ).collect()
    }
    for seq, _, late in _expected():
        assert out[seq] == late, f"seq {seq}: got {out[seq]}, want {late}"


def test_tag_late_batch_is_per_key(spark):
    # A fast-forwarded shard must not mark another shard's rows late.
    rows = [
        ("a", 0, "2024-01-01 00:10:00"),
        ("b", 1, "2024-01-01 00:00:00"),  # old, but first for shard b
        ("b", 2, "2024-01-01 00:00:01"),
    ]
    df = SS.with_event_time(spark.createDataFrame(rows, ["shard", "seq", "bid_time"]))
    out = {r.seq: r.is_late for r in SS.tag_late_batch(df, "shard", "seq").collect()}
    assert out == {0: False, 1: False, 2: False}


def test_supplier_stats_batch_aggregation(spark):
    rows = [
        ("o1", "2024-01-01 00:00:01", 10.0, "beer", "sup1"),
        ("o2", "2024-01-01 00:00:03", 20.0, "wine", "sup1"),
        ("o3", "2024-01-01 00:00:06", 40.0, "beer", "sup2"),
    ]
    df = SS.with_event_time(
        spark.createDataFrame(rows, ["order_id", "bid_time", "price", "item", "supplier"])
    )
    out = {
        (r.window_start, r.supplier): (r.total_price, r["count"])
        for r in SS.supplier_stats(df).collect()
    }
    assert out[("2024-01-01 00:00:00", "sup1")] == (30.0, 2)
    assert out[("2024-01-01 00:00:05", "sup2")] == (40.0, 1)


@pytest.fixture(scope="module")
def stream_dirs(scratch_dir):
    d = tempfile.mkdtemp(prefix="sparkgraft_stream_", dir=scratch_dir)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_dual_sink(stream, key, chk, stats_writer=None, late_writer=None):
    """``run_supplier_stats`` over ``stream`` until its input is consumed;
    returns the query and, per micro-batch, the collected stats rows and
    the seqs of the late rows."""
    stats, late = {}, {}
    q = SS.run_supplier_stats(
        SS.tag_late_stream(stream, key, window_sec=5, grace_sec=5),
        stats_writer=stats_writer or (lambda df, bid: stats.__setitem__(bid, df.collect())),
        late_writer=late_writer or (lambda df, bid: late.__setitem__(
            bid, [json.loads(r.value)["seq"] for r in df.collect()])),
        checkpoint_dir=chk,
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(180)
    assert q.exception() is None
    return q, stats, late


def test_tag_late_stream_matches_batch(spark, events_df, stream_dirs):
    """Batch ≡ stream equivalence for the tagger: the same sequence
    through tag_late_stream (the late rule applied per micro-batch
    inside run_supplier_stats' foreachBatch) must tag identically."""
    src = f"{stream_dirs}/late_src"
    chk = f"{stream_dirs}/late_chk"
    base = events_df.withColumn("order_id", F.col("seq")).withColumn(
        "price", F.lit(1.0)
    ).withColumn("supplier", F.col("shard"))
    base.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(base.schema).parquet(src)
    _, stats, late = _run_dual_sink(stream, "shard", chk)
    late_seqs = {seq for seqs in late.values() for seq in seqs}
    out = {seq: seq in late_seqs for seq, _, _ in SEQUENCE}
    expected = {seq: late for seq, _, late in _expected()}
    assert out == expected
    n_on_time = sum(r["count"] for rows in stats.values() for r in rows)
    assert n_on_time == len(SEQUENCE) - len(late_seqs)


# SEQUENCE (shard 1) split over micro-batches, with shard 2 first seen in
# batch 2. Seq 4 is late only by the stream time batch 0 left (120),
# carried through the empty batch 1; seq 8 only by shard 2's from batch 2;
# seq 10 only by the null shard's from batch 0.
CARRY_BATCHES = [
    [(1, 0, 100), (1, 1, 103), (1, 2, 101), (1, 3, 120), (None, 9, 200)],
    [],
    [(1, 4, 104), (2, 7, 50), (None, 10, 150)],  # seq 7: shard 1's 120 is not its
    [(1, 5, 112), (1, 6, 111), (2, 8, 30)],
]
CARRY_STATE = {"1": 1704067200 + 120, "2": 1704067200 + 50, None: 1704067200 + 200}
CARRY_SCHEMA = "shard bigint, seq bigint, bid_time string, order_id bigint, price double, supplier string"


def _write_batches(spark, src, batches):
    """One parquet file per batch (empty ones too), in arrival order."""
    os.makedirs(src, exist_ok=True)
    for i, batch in enumerate(batches):
        rows = [
            (shard, seq, f"2024-01-01 00:{ts // 60:02d}:{ts % 60:02d}", seq, 1.0, "s")
            for shard, seq, ts in batch
        ]
        tmp = f"{src}_tmp{i}"
        spark.createDataFrame(rows, CARRY_SCHEMA).coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = f"{src}/part-{i:03d}.parquet"
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))


def _carry_stream(spark, src):
    return SS.with_event_time(
        spark.readStream.schema(CARRY_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )


def test_tag_late_stream_carries_stream_time_across_batches(spark, stream_dirs):
    src, chk = f"{stream_dirs}/carry_src", f"{stream_dirs}/carry_chk"
    _write_batches(spark, src, CARRY_BATCHES)
    _, stats, late = _run_dual_sink(_carry_stream(spark, src), "shard", chk)
    assert sorted(stats) == [0, 1, 2, 3] and stats[1] == []  # batch 1 ran, empty
    assert {b: sorted(seqs) for b, seqs in late.items()} == {0: [], 1: [], 2: [4, 10], 3: [8]}
    # the batch tagger over all rows agrees
    rows = [r for batch in CARRY_BATCHES for r in batch]
    whole = SS.with_event_time(spark.createDataFrame(
        [(k, s, f"2024-01-01 00:{t // 60:02d}:{t % 60:02d}") for k, s, t in rows],
        "shard bigint, seq bigint, bid_time string"))
    assert {r.seq for r in SS.tag_late_batch(whole, "shard", "seq").filter("is_late").collect()} == {4, 8, 10}
    # state keyed by the key cast to string (the integer key round-trips
    # through that cast), at most two files
    state_dir = f"{chk}/late_state"
    assert sorted(os.listdir(state_dir)) == ["2", "3"]
    with open(f"{state_dir}/3") as fh:
        assert dict(json.load(fh)) == CARRY_STATE


def test_tagged_micro_batch_runs_no_python(spark, stream_dirs):
    """Guard: the tagger is JVM-only. Each sink's executed plan (which
    prints the cached, tagged batch under it) has the tag's Window and
    the state Observation, and no Python evaluation node; the stream
    itself has no state operator."""
    src, chk = f"{stream_dirs}/jvm_src", f"{stream_dirs}/jvm_chk"
    _write_batches(spark, src, CARRY_BATCHES[:1] + CARRY_BATCHES[2:3])
    plans = []

    def capture(df, bid):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        plans.append(buf.getvalue())
        df.collect()

    q, _, _ = _run_dual_sink(_carry_stream(spark, src), "shard", chk, capture, capture)
    assert len(plans) == 4
    for plan in plans:
        assert "Window [" in plan and "CollectMetrics" in plan
        for node in ("FlatMapGroupsInPandasWithState", "ArrowEvalPython", "PythonUDF"):
            assert node not in plan
    assert q.lastProgress["stateOperators"] == []


def test_supplier_stats_writers_without_action_do_not_hang(spark, stream_dirs):
    """Writers that run no action never fill the Observation; the tagger
    then collects the stream times with one aggregate over the cache."""
    src, chk = f"{stream_dirs}/noop_src", f"{stream_dirs}/noop_chk"
    _write_batches(spark, src, CARRY_BATCHES)
    noop = lambda df, bid: None  # noqa: E731
    _run_dual_sink(_carry_stream(spark, src), "shard", chk, noop, noop)
    with open(f"{chk}/late_state/3") as fh:
        assert dict(json.load(fh)) == CARRY_STATE


def test_streaming_window_agg_drops_beyond_watermark(spark, stream_dirs):
    """T2/T5: with watermark delay 10s (= ooo 5s + grace 5s), a record
    arriving after the watermark passed its window's grace is dropped
    from the windowed aggregate (Spark's silent drop — the late channel
    is exactly why T6 tags before this operator)."""
    import os
    import time

    src = f"{stream_dirs}/wm_src"
    chk = f"{stream_dirs}/wm_chk"
    os.makedirs(src, exist_ok=True)
    schema = "order_id string, bid_time string, price double, item string, supplier string"

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, schema)
        tmp = f"{stream_dirs}/tmp_{name}"
        df.coalesce(1).write.mode("overwrite").json(tmp)
        import glob

        part = glob.glob(f"{tmp}/part-*.json")[0]
        dst = f"{src}/{name}.json"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    # batch 1: events at 00:00:01..03 and a head at 00:01:00 -> watermark
    # advances to 00:00:50 after this batch; window [0,5s)+grace is closed.
    write_file(
        "f1",
        [
            ("o1", "2024-01-01 00:00:01", 10.0, "beer", "sup1"),
            ("o2", "2024-01-01 00:00:03", 20.0, "wine", "sup1"),
            ("o9", "2024-01-01 00:01:00", 5.0, "beer", "sup9"),
        ],
        1_000_000,
    )
    # Spark's late-event filter uses the PREVIOUS trigger's watermark
    # (eviction uses the current one), so the first late arrival after a
    # watermark jump still lands in state (o4 below); only from the next
    # trigger on are late rows dropped (o5). This one-trigger grace is a
    # documented divergence from Flink's immediate allowedLateness cut.
    write_file("f2", [("o4", "2024-01-01 00:00:02", 99.0, "beer", "sup1")], 2_000_000)
    write_file("f3", [("o5", "2024-01-01 00:00:04", 77.0, "beer", "sup1")], 3_000_000)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(src)
    )
    stats = SS.supplier_stats(SS.with_event_time(stream))
    q = (
        stats.writeStream.format("memory")
        .queryName("wm_stats")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    time.sleep(0.5)
    rows = spark.sql("SELECT * FROM wm_stats").collect()
    sup1 = [r for r in rows if r.supplier == "sup1"]
    assert len(sup1) == 1
    # o5 (price 77, third trigger) must be dropped by the watermark;
    # o4 rides the one-trigger filter lag into the aggregate.
    assert sup1[0].total_price == 129.0 and sup1[0]["count"] == 3
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped == 1


SESSION_ROWS = [
    # key a: 0s and 10s merge (gap 10 < 30); 40s is EXACTLY prev+30 and
    # STILL merges (Spark's merge is end-inclusive — the oracle SQL
    # replays this with a strict > gap island break); 120s is > gap
    # away and starts a new session.
    ("a", "2024-01-01 00:00:00", 1.0),
    ("a", "2024-01-01 00:00:10", 2.0),
    ("a", "2024-01-01 00:00:40", 4.0),
    ("a", "2024-01-01 00:02:00", 16.0),
    # key b: single event far ahead (also advances the stream watermark
    # past key a's session ends in the streaming test)
    ("b", "2024-01-01 00:10:00", 8.0),
]
SESSION_EXPECTED = {
    # (key, start_s, end_s): (total, n)  with gap=30s
    ("a", 0, 70): (7.0, 3),
    ("a", 120, 150): (16.0, 1),
    ("b", 600, 630): (8.0, 1),
}


def _session_key(r):
    base = 1704067200_000000  # 2024-01-01 00:00:00 UTC in epoch micros
    return (
        r.event_type,
        (r.session_start_us - base) // 1_000_000,
        (r.session_end_us - base) // 1_000_000,
    )


def test_session_window_batch_merge_semantics(spark):
    from streaming_demos_spark.operators import relational as R

    df = spark.createDataFrame(
        SESSION_ROWS, "event_type string, bid_time string, value double"
    ).withColumn("ts", F.to_timestamp("bid_time"))
    out = {
        _session_key(r): (r.total_value, r.n_events)
        for r in R.session_stats(df, "ts", "event_type", "value", gap="30 seconds").collect()
    }
    assert out == SESSION_EXPECTED


def test_session_window_streaming_appends_closed_sessions(spark, stream_dirs):
    """Streaming session_window: state merges sessions incrementally and
    append mode emits each once the watermark passes its end. Key b's
    far-future event drives the watermark past key a's sessions; b's own
    session stays open (absent from the output)."""
    from streaming_demos_spark.operators import relational as R

    src = f"{stream_dirs}/sess_src"
    chk = f"{stream_dirs}/sess_chk"
    batch = spark.createDataFrame(
        SESSION_ROWS, "event_type string, bid_time string, value double"
    ).withColumn("ts", F.to_timestamp("bid_time")).drop("bid_time")
    batch.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    stats = R.session_stats(
        stream, "ts", "event_type", "value", gap="30 seconds", watermark="0 seconds"
    )
    q = (
        stats.writeStream.format("memory")
        .queryName("sess")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        _session_key(r): (r.total_value, r.n_events)
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    assert out == {k: v for k, v in SESSION_EXPECTED.items() if k[0] == "a"}


def _write_json_file(spark, stream_dirs, src, name, rows, schema, mtime):
    import glob
    import os

    os.makedirs(src, exist_ok=True)
    df = spark.createDataFrame(rows, schema)
    tmp = f"{stream_dirs}/tmp_{name}"
    df.coalesce(1).write.mode("overwrite").json(tmp)
    part = glob.glob(f"{tmp}/part-*.json")[0]
    dst = f"{src}/{name}.json"
    shutil.copy(part, dst)
    os.utime(dst, (mtime, mtime))


ORDER_SCHEMA = "order_id string, bid_time string, price double, item string, supplier string"


def _idle_source_run(spark, stream_dirs, tag, hb_times):
    """Shared T3 harness: a business source that goes idle after 3 rows
    (2 windows, max event time 00:00:06), plus a heartbeat stream with
    the given tick timestamps. Returns the append-mode emissions."""
    src = f"{stream_dirs}/{tag}_src"
    hb_src = f"{stream_dirs}/{tag}_hb"
    chk = f"{stream_dirs}/{tag}_chk"
    _write_json_file(
        spark, stream_dirs, src, "f1",
        [
            ("o1", "2024-01-01 00:00:01", 10.0, "beer", "sup1"),
            ("o2", "2024-01-01 00:00:03", 20.0, "wine", "sup1"),
            ("o3", "2024-01-01 00:00:06", 40.0, "beer", "sup2"),
        ],
        ORDER_SCHEMA, 1_000_000,
    )
    for i, ts in enumerate(hb_times):
        _write_json_file(
            spark, stream_dirs, hb_src, f"hb{i}", [(ts,)], "bid_time string",
            1_000_000 + (i + 1) * 1_000_000,
        )
    events = SS.with_event_time(spark.readStream.schema(ORDER_SCHEMA).json(src))
    heartbeat = SS.with_event_time(
        spark.readStream.schema("bid_time string")
        .option("maxFilesPerTrigger", "1")
        .json(hb_src)
    ).select("event_time")
    stats = SS.supplier_stats(
        SS.with_idle_heartbeat(events, heartbeat, watermark="10 seconds"),
        watermark=None,
    )
    q = (
        stats.writeStream.format("memory")
        .queryName(f"{tag}_stats")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {tag}_stats").collect()


def test_idle_heartbeat_closes_windows(spark, stream_dirs):
    """T3: the business source is idle (nothing after 00:00:06, so its
    own watermark could never pass the window ends) — heartbeat ticks
    far in the future advance the watermark and flush both windows.
    Heartbeat rows themselves must not surface as a NULL-supplier group."""
    rows = _idle_source_run(
        spark, stream_dirs, "t3a",
        hb_times=["2024-01-01 00:02:00", "2024-01-01 00:02:01"],
    )
    out = {(r.window_start, r.supplier): (r.total_price, r["count"]) for r in rows}
    assert out == {
        ("2024-01-01 00:00:00", "sup1"): (30.0, 2),
        ("2024-01-01 00:00:05", "sup2"): (40.0, 1),
    }


def test_idle_source_without_heartbeat_advance_stalls(spark, stream_dirs):
    """T3 control: with heartbeat ticks at/behind the idle source's own
    event time, the watermark never passes the window ends and append
    mode emits nothing — the exact stall Flink's withIdleness (and our
    heartbeat union) exists to break."""
    rows = _idle_source_run(
        spark, stream_dirs, "t3b",
        hb_times=["2024-01-01 00:00:04", "2024-01-01 00:00:05"],
    )
    assert rows == []


def test_streaming_exact_dedup_suppresses_redeliveries(spark, stream_dirs):
    """Streaming dedup: duplicate keys re-delivered in later
    micro-batches (within the watermark horizon) are suppressed; the
    first arrival's payload wins. Batch path degrades to
    dropDuplicates."""
    from streaming_demos_spark.operators import dedup as D

    src = f"{stream_dirs}/dd_src"
    chk = f"{stream_dirs}/dd_chk"
    schema = "order_id string, bid_time string, price double"
    # batch 1: o1, o2 — batch 2 (later mtime): o1 re-delivered with a
    # different payload + fresh o3
    _write_json_file(
        spark, stream_dirs, src, "b1",
        [("o1", "2024-01-01 00:00:01", 10.0), ("o2", "2024-01-01 00:00:02", 20.0)],
        schema, 1_000_000,
    )
    _write_json_file(
        spark, stream_dirs, src, "b2",
        [("o1", "2024-01-01 00:00:03", 99.0), ("o3", "2024-01-01 00:00:04", 30.0)],
        schema, 2_000_000,
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(src)
    )
    with_time = stream.withColumn("event_time", F.to_timestamp("bid_time"))
    deduped = D.streaming_exact_dedup(
        with_time, ["order_id"], "event_time", watermark="1 minute"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dd")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r.order_id: r.price for r in spark.sql("SELECT * FROM dd").collect()}
    assert out == {"o1": 10.0, "o2": 20.0, "o3": 30.0}
    # batch face: same call on a bounded frame
    bdf = spark.createDataFrame(
        [("o1", 1.0), ("o1", 2.0), ("o2", 3.0)], "order_id string, price double"
    ).withColumn("event_time", F.current_timestamp())
    assert D.streaming_exact_dedup(bdf, ["order_id"], "event_time").count() == 2


def test_stream_static_join_enriches(spark, stream_dirs):
    """J6 extension: a streaming fact joined with a static dim — the
    stream-enrichment capability SURVEY §2.3 marks as an extension
    (no stream-stream joins exist in the reference)."""
    src = f"{stream_dirs}/ssj_src"
    chk = f"{stream_dirs}/ssj_chk"
    facts = spark.createDataFrame(
        [(1, "sup1", 10.0), (2, "sup2", 20.0), (3, "supX", 5.0)],
        "order_id long, supplier string, price double",
    )
    facts.coalesce(1).write.mode("overwrite").parquet(src)
    dim = spark.createDataFrame(
        [("sup1", "EU"), ("sup2", "US")], "supplier string, region string"
    )
    stream = spark.readStream.schema(facts.schema).parquet(src)
    enriched = stream.join(F.broadcast(dim), "supplier", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("ssj")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.order_id: r.region for r in spark.sql("SELECT * FROM ssj").collect()}
    assert rows == {1: "EU", 2: "US", 3: None}


def test_generator_to_dual_sink_end_to_end(spark, stream_dirs):
    """S15 -> T1 -> T6 -> T4/A5 -> T7/T8: the full supplier-stats
    pipeline over the deterministic generator workload. Asserts the
    partition law (stats counts + late rows == generated rows) and
    that the late channel carries enriched JSON."""
    import json

    from streaming_demos_spark.streaming import generator as G

    src = f"{stream_dirs}/gen_src"
    chk = f"{stream_dirs}/gen_chk"
    orders = G.order_events_batch(spark, 60, events_per_sec=2, max_delay_sec=12)
    with_time = SS.with_event_time(orders)
    with_time.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(with_time.schema).parquet(src)
    tagged = SS.tag_late_stream(stream, "supplier", window_sec=5, grace_sec=5)
    stats_rows, late_rows = [], []
    q = SS.run_supplier_stats(
        tagged,
        stats_writer=lambda df, bid: stats_rows.extend(df.collect()),
        late_writer=lambda df, bid: late_rows.extend(df.collect()),
        checkpoint_dir=chk,
        trigger={"availableNow": True},
    )
    q.awaitTermination(180)
    assert sum(r["count"] for r in stats_rows) + len(late_rows) == 60
    # batch analog agrees with the streaming run on the late count
    n_late_batch = (
        SS.tag_late_batch(with_time, "supplier", "seq", window_sec=5, grace_sec=5)
        .filter("is_late")
        .count()
    )
    assert len(late_rows) == n_late_batch
    if late_rows:
        payload = json.loads(late_rows[0].value)
        assert payload["late"] is True and payload["supplier"] in G.SUPPLIERS


def test_dual_sink_partitions_on_time_and_late(spark, events_df, stream_dirs):
    """T7/T8: one tagged stream -> two sinks in one foreachBatch;
    on-time + late row counts partition the input (§5.2 property)."""
    src = f"{stream_dirs}/dual_src"
    chk = f"{stream_dirs}/dual_chk"
    base = events_df.withColumn("order_id", F.col("seq")).withColumn(
        "price", F.lit(1.0)
    ).withColumn("supplier", F.col("shard"))
    base.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(base.schema).parquet(src)
    tagged = SS.tag_late_stream(stream, "shard", window_sec=5, grace_sec=5)

    stats_batches, late_batches = [], []
    q = SS.run_supplier_stats(
        tagged,
        stats_writer=lambda df, bid: stats_batches.extend(df.collect()),
        late_writer=lambda df, bid: late_batches.extend(df.collect()),
        checkpoint_dir=chk,
        trigger={"availableNow": True},
    )
    q.awaitTermination(180)
    n_late_expected = sum(late for _, _, late in _expected())
    assert len(late_batches) == n_late_expected
    assert sum(r["count"] for r in stats_batches) == len(SEQUENCE) - n_late_expected
    # late payloads are JSON strings keyed by order id with late=true
    import json

    payload = json.loads(late_batches[0].value)
    assert payload["late"] is True and "shard" in payload


def test_stream_stream_attribution_join(spark, stream_dirs):
    """Extension past stream-static: BOTH sides streaming, watermarked,
    with the time-range predicate that lets Spark evict two-sided join
    state. Clicks attribute to the impression they follow within 5s."""
    imp_src = f"{stream_dirs}/attr_imp"
    clk_src = f"{stream_dirs}/attr_clk"
    chk = f"{stream_dirs}/attr_chk"
    base = "2024-01-01 00:00:"
    imps = spark.createDataFrame(
        [("k1", f"{base}10"), ("k2", f"{base}20"), ("k4", f"{base}30")],
        "k string, imp_s string",
    ).select("k", F.to_timestamp("imp_s").alias("imp_time"))
    clicks = spark.createDataFrame(
        [
            ("k1", f"{base}13"),  # 3s after k1's impression -> attributed
            ("k1", f"{base}40"),  # 30s after -> outside the window
            ("k2", f"{base}19"),  # 1s BEFORE the impression -> no match
            ("k3", f"{base}21"),  # no impression at all
        ],
        "k string, clk_s string",
    ).select("k", F.to_timestamp("clk_s").alias("click_time"))
    imps.coalesce(1).write.mode("overwrite").parquet(imp_src)
    clicks.coalesce(1).write.mode("overwrite").parquet(clk_src)

    s_imps = spark.readStream.schema(imps.schema).parquet(imp_src)
    s_clicks = spark.readStream.schema(clicks.schema).parquet(clk_src)
    joined = SS.attribution_join(
        s_imps, s_clicks, key="k", left_ts="imp_time", right_ts="click_time",
        within="5 seconds", watermark="10 seconds",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attr")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r.k, r.imp_time.second, r.click_time.second)
        for r in spark.sql("SELECT * FROM attr").collect()
    ]
    assert got == [("k1", 10, 13)]

    # batch ≡ stream duality: same function, same answer on batch frames
    batch = SS.attribution_join(
        imps, clicks, key="k", left_ts="imp_time", right_ts="click_time",
        within="5 seconds",
    ).collect()
    assert [(r.k, r.imp_time.second, r.click_time.second) for r in batch] == got


def test_stream_stream_join_state_expires(spark, stream_dirs):
    """Watermark-expiry proof for the two-sided interval join at the
    supplier-stats cadence (5s attribution window, 10s watermark —
    reference T2/T5 semantics): three micro-batches arrive ~100s apart,
    so by the time batch N processes, the watermark has passed every
    batch-(N-1) row's eviction bound. The assertion is on the join's
    STATE METRICS across batches: rows are actually removed and the
    final state never accumulates the whole history — the property that
    lets this join run forever at 100 TB/day.
    """
    import json
    import time

    left_src = f"{stream_dirs}/exp_left"
    right_src = f"{stream_dirs}/exp_right"
    chk = f"{stream_dirs}/exp_chk"

    def mk(side, ts_col, offsets):
        rows = [(f"k{i}", f"2024-01-01 00:{o // 60:02d}:{o % 60:02d}")
                for i, o in enumerate(offsets)]
        return spark.createDataFrame(rows, f"k string, s string").select(
            "k", F.to_timestamp("s").alias(ts_col)
        )

    # 3 time regions ~100s apart; right events 2s after their left
    regions = [(0, 2, 4), (100, 102, 104), (200, 202, 204)]
    for i, reg in enumerate(regions):
        mk("l", "l_time", reg).coalesce(1).write.mode("append").parquet(
            left_src
        )
        mk("r", "r_time", tuple(o + 2 for o in reg)).coalesce(1).write.mode(
            "append"
        ).parquet(right_src)
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    sch_l = spark.read.parquet(left_src).schema
    sch_r = spark.read.parquet(right_src).schema
    s_l = (
        spark.readStream.schema(sch_l)
        .option("maxFilesPerTrigger", 1)
        .parquet(left_src)
    )
    s_r = (
        spark.readStream.schema(sch_r)
        .option("maxFilesPerTrigger", 1)
        .parquet(right_src)
    )
    joined = SS.attribution_join(
        s_l, s_r, key="k", left_ts="l_time", right_ts="r_time",
        within="5 seconds", watermark="10 seconds",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("exp_join")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # every in-window pair attributed despite the eviction
    assert spark.sql("SELECT count(*) c FROM exp_join").collect()[0].c == 9

    progs = [json.loads(p.json) for p in q.recentProgress]
    states = [
        (p["stateOperators"][0]["numRowsTotal"],
         p["stateOperators"][0]["numRowsRemoved"])
        for p in progs
        if p.get("stateOperators")
    ]
    assert len(states) >= 3  # really ran as multiple micro-batches
    total_inserted = 18  # 9 left + 9 right rows pass through the state
    # expiry happened: some batch physically removed state rows...
    assert sum(rm for _, rm in states) > 0
    # ...and no batch ever held the full history in state
    assert max(n for n, _ in states) < total_inserted


def test_streaming_agg_refresh_matches_recompute(spark, tmp_path):
    """Retraction-stream MV maintenance under Structured Streaming:
    inserts then a batch of deletes/updates arrive as file micro-batches;
    the maintained aggregate must equal a from-scratch recompute of the
    surviving rows, a replayed batch must be a no-op, and a fully
    deleted group must vanish."""
    import json

    from streaming_demos_spark import sinks as SK

    src = str(tmp_path / "delta_src")
    chk = str(tmp_path / "delta_chk")
    os.makedirs(src, exist_ok=True)

    def emit(name, rows):
        with open(f"{src}/{name}.json", "w") as fh:
            for op, g, v in rows:
                fh.write(json.dumps({"op": op, "g": g, "v": float(v)}) + "\n")

    schema = "op string, g string, v double"
    state: dict = {}

    def run_once():
        stream = spark.readStream.schema(schema).json(src)
        q = (
            stream.writeStream.foreachBatch(
                SK.agg_refresh_sink(state, ["g"], ["v"])
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    emit("b1", [("i", "a", 10.0), ("i", "a", 2.0), ("i", "b", 5.0)])
    run_once()
    assert state["groups"][("a",)] == {"v": 12.0, "n_rows": 2}

    # update a (d old + i new), delete b entirely
    emit("b2", [("d", "a", 2.0), ("i", "a", 3.0), ("d", "b", 5.0)])
    run_once()
    assert state["groups"][("a",)] == {"v": 13.0, "n_rows": 2}
    assert ("b",) not in state["groups"]

    # replay guard: re-running with no new files must change nothing
    before = {k: dict(v) for k, v in state["groups"].items()}
    run_once()
    assert state["groups"] == before


def test_streaming_cms_equals_batch_cms(spark, tmp_path):
    """The CMS cell build is a plain keyed aggregation, so Structured
    Streaming maintains it natively (complete-mode memory sink here);
    after consuming the same rows, the streamed cells must equal the
    batch sketch cell-for-cell."""
    from streaming_demos_spark.operators import sketches as SK

    src = str(tmp_path / "cms_src")
    os.makedirs(src, exist_ok=True)
    with open(f"{src}/a.txt", "w") as fh:
        fh.write("\n".join(["apple"] * 5 + ["pear"] * 3 + ["kiwi"]))
    with open(f"{src}/b.txt", "w") as fh:
        fh.write("\n".join(["apple"] * 2 + ["kiwi"] * 4))

    stream = spark.readStream.format("text").load(src).withColumnRenamed(
        "value", "term"
    )
    cells = SK.count_min_sketch(stream, "term", depth=3, width=32)
    q = (
        cells.writeStream.format("memory")
        .queryName("cms_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(map(tuple, spark.table("cms_cells").collect()))

    batch_df = spark.read.format("text").load(src).withColumnRenamed(
        "value", "term"
    )
    batch = sorted(
        map(tuple, SK.count_min_sketch(batch_df, "term", depth=3, width=32).collect())
    )
    assert streamed == batch


def test_update_mode_refires_window_on_in_grace_late_record(spark, stream_dirs):
    """T5 re-fire analog: Flink's allowedLateness re-emits a window's
    UPDATED result when a late-but-in-grace record arrives after the
    first firing (DataStreamApp.kt:105). Spark's single-knob append
    mapping silently folds such a record into the not-yet-emitted pane;
    update mode is the semantic match — the pane fires once per trigger
    it changes in. Assert the memory sink holds BOTH firings of the
    same window: (10.0, 1) then the corrected (15.0, 2)."""
    import os
    import time

    src = f"{stream_dirs}/upd_src"
    chk = f"{stream_dirs}/upd_chk"
    os.makedirs(src, exist_ok=True)
    schema = "order_id string, bid_time string, price double, item string, supplier string"

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, schema)
        tmp = f"{stream_dirs}/tmp_{name}"
        df.coalesce(1).write.mode("overwrite").json(tmp)
        import glob

        part = glob.glob(f"{tmp}/part-*.json")[0]
        dst = f"{src}/{name}.json"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    # trigger 1: one on-time record -> pane [00:00,00:05)x sup1 fires
    # with (10.0, 1); watermark stays near epoch (delay 10s).
    write_file("f1", [("o1", "2024-01-01 00:00:01", 10.0, "beer", "sup1")], 1_000_000)
    # trigger 2: a record for the SAME window arriving later in
    # processing time but inside the watermark -> the pane RE-FIRES
    # with the corrected (15.0, 2). Append mode can never do this.
    write_file("f2", [("o2", "2024-01-01 00:00:02", 5.0, "wine", "sup1")], 2_000_000)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(src)
    )
    stats = SS.supplier_stats(SS.with_event_time(stream))
    q = SS.run_supplier_stats_update(
        stats,
        query_name="upd_stats",
        checkpoint_dir=chk,
        trigger={"availableNow": True},
    )
    q.awaitTermination(180)
    time.sleep(0.5)
    rows = spark.sql(
        "SELECT * FROM upd_stats WHERE supplier = 'sup1' ORDER BY count"
    ).collect()
    firings = [(r.window_start, r.total_price, r["count"]) for r in rows]
    assert len(firings) == 2, firings
    # same pane, two firings: initial then corrected
    assert firings[0][0] == firings[1][0]
    assert (firings[0][1], firings[0][2]) == (10.0, 1)
    assert (firings[1][1], firings[1][2]) == (15.0, 2)
