"""Supplier-stats streaming pipeline — the reference's centerpiece.

Reference parity (files under /root/reference):
- Kafka Streams topology:  kotlin-examples/orders-stats-streams/src/main/kotlin/me/jaehyeon/StreamsApp.kt:100-174
- Flink DataStream:        kotlin-examples/orders-stats-flink/.../DataStreamApp.kt:93-157
- Flink Table API:         kotlin-examples/orders-stats-flink/.../TableApp.kt:62-264
- Late-record arithmetic:  orders-stats-streams/.../streams/processor/LateRecordProcessor.kt:24-79 (window math 46-64)
- Late routing:            orders-stats-flink/.../LateDataRouter.kt:19-41

Semantics mapping (SURVEY.md §2.9):
- T1 event time = parse(bid_time "yyyy-MM-dd HH:mm:ss"), fallback to the
  processing clock on parse failure (BidTimeTimestampExtractor.kt:29-50).
- T2 watermark: ``withWatermark(event_time, ooo + grace)`` — Spark's one
  knob covers Flink's bounded-out-of-orderness AND the window grace
  (T5): state for a window is kept until watermark > window_end + 0, so
  delay = ooo+grace reproduces "window accepts records until
  window_end + grace". Divergence (documented): Spark append mode emits
  once, no Flink-style pane re-fires.
- T3 idleness (SupplierWatermarkStrategy.kt:14-32 ``withIdleness(10s)``):
  Spark has no per-partition idleness knob — its watermark only advances
  when rows arrive. The idiomatic analog is ``with_idle_heartbeat``: union
  a heartbeat stream BEFORE ``withWatermark`` and filter it out after, so
  the watermark (a max over everything entering the watermark node) keeps
  advancing while the business source is idle, and Spark's no-data
  micro-batches then close and emit the stale windows.
- T4 tumbling window via ``window()``; A5-A8 sum+count partial+final
  aggregation; A7 bounds formatted ``yyyy-MM-dd HH:mm:ss`` at emission.
- T6 the engine-custom operator: Spark drops late rows silently, the
  reference *routes* them. A keyed stateful tagger
  (``tag_late_stream``: ``applyInPandasWithState`` over the
  ``_tag_batch_pdf`` kernel) tracks per-shard stream time (max event
  time seen) and tags ``is_late`` BEFORE the window agg with the
  reference's exact rule: late ⇔ stream_time > window_end + grace,
  window_end = (floor(ts/size)+1)·size.
- T7/T8 dual sink from one tagged stream inside a single foreachBatch
  (no side outputs in Spark): on-time rows -> windowed stats sink, late
  rows -> ``late=true``-enriched JSON sink keyed by order id.
- T13 `trigger(processingTime=...)` mirrors the 5s cadence.

Batch/stream duality: every transform below is a plain DataFrame
function, so the SAME code runs in batch tests and in the streaming
path; ``tag_late_batch`` is the window-function analog of the stateful
tagger (per-shard running max = per-task stream time, exactly the
Kafka Streams model where stream time is task-local).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_demos_spark.functions.scalars import epoch_sec

BID_TIME_FMT = "yyyy-MM-dd HH:mm:ss"


# --- T1: event-time extraction ----------------------------------------------


def with_event_time(orders: DataFrame, bid_time_col: str = "bid_time") -> DataFrame:
    """Parse the string bid_time into event time; fall back to the
    processing clock when unparseable (BidTimeTimestampExtractor.kt:29-50
    falls back rather than dropping)."""
    parsed = F.to_timestamp(F.col(bid_time_col), BID_TIME_FMT)
    return orders.withColumn("event_time", F.coalesce(parsed, F.current_timestamp()))


# --- T3: idleness analog -----------------------------------------------------


def rate_heartbeat(spark, ts_col: str = "event_time", rows_per_second: int = 1) -> DataFrame:
    """Live-deployment heartbeat: a rate source whose event time IS the
    processing clock, one row per tick. Union it into a business stream
    via ``with_idle_heartbeat`` so an idle Kafka partition cannot stall
    the watermark (Flink's ``withIdleness``,
    SupplierWatermarkStrategy.kt:14-32). Tests use a file-backed
    heartbeat instead for determinism — the operator is source-agnostic."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(F.col("timestamp").alias(ts_col))
    )


def with_idle_heartbeat(
    events: DataFrame,
    heartbeat: DataFrame,
    ts_col: str = "event_time",
    watermark: str = "10 seconds",
) -> DataFrame:
    """T3: keep the watermark advancing while the business source is idle.

    Spark's watermark is ``max(event time seen) - delay``, computed over
    every row that flows through the EventTimeWatermark node — so a
    heartbeat (single ``ts_col`` column) unioned in BEFORE the node and
    filtered out right AFTER advances the clock without contributing any
    rows downstream. Once the watermark passes a stale window's end,
    Spark's no-data micro-batch closes it and append mode emits — exactly
    the effect of Flink's per-partition idleness marking.

    Returns the watermarked, heartbeat-free frame: feed it straight to
    ``supplier_stats(..., watermark=None)`` / any stateful op (do not
    re-apply ``withWatermark`` downstream).
    """
    # The tick is wrapped in a never-firing nullif so the unioned
    # event-time column is NULLABLE: otherwise ``isnull(event_time)`` in
    # the guard below constant-folds to false, the guard degenerates to
    # ``NOT _hb``, and Catalyst pushes THAT through the union and folds
    # the whole heartbeat branch into an empty scan (observed).
    tick = F.nullif(F.col(ts_col), F.timestamp_seconds(F.lit(0)))
    hb = heartbeat.select(
        *[
            (
                tick if f.name == ts_col
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in events.schema.fields
        ],
        F.lit(True).alias("_hb"),
    )
    unioned = events.withColumn("_hb", F.lit(False)).unionByName(hb)
    return (
        unioned.withWatermark(ts_col, watermark)
        # The guard must reference the event-time column: Catalyst keeps
        # predicates on the watermark column above the EventTimeWatermark
        # node, while a bare ``NOT _hb`` would be pushed through it into
        # the union branches, constant-fold the heartbeat branch to an
        # empty scan, and the watermark would never see a heartbeat row.
        .filter((~F.col("_hb")) | F.col(ts_col).isNull())
        .drop("_hb")
    )


# --- T6: late-record detection (the custom operator) ------------------------


def window_end_expr(ts: Column, window_sec: int) -> Column:
    """``window_end = (floor(ts/size)+1)*size`` in epoch seconds —
    LateRecordProcessor.kt:46-52's arithmetic. NTZ-safe epoch
    extraction (events.ts scans as TIMESTAMP_NTZ under Spark 4)."""
    epoch = epoch_sec(ts)
    return (F.floor(epoch / window_sec) + 1) * window_sec


def tag_late_batch(
    events: DataFrame,
    key_col: str,
    seq_col: str,
    ts_col: str = "event_time",
    window_sec: int = 5,
    grace_sec: int = 5,
) -> DataFrame:
    """Batch analog of the stateful tagger: per-key stream time is the
    running max of event time over arrival order (exclusive of the
    current row — a record never makes itself late; including the
    current row is equivalent because ts <= window_end(ts) + grace
    always). Kafka Streams stream time is task-local, so partitioning
    the running max by the shard key is the faithful AND scalable
    restatement (no global window)."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stream_time = F.max(epoch_sec(F.col(ts_col))).over(w)
    wend = window_end_expr(F.col(ts_col), window_sec)
    return events.withColumn(
        "is_late",
        F.coalesce(stream_time > wend + grace_sec, F.lit(False)),
    )


def _tag_batch_pdf(
    pdf: pd.DataFrame, st: int | None, window_sec: int, grace_sec: int
) -> tuple[pd.DataFrame, int]:
    """Shared kernel for both stateful APIs: tag rows (sorted by seq)
    against the running stream time, return (tagged, new stream time)."""
    pdf = pdf.sort_values("seq", kind="stable").reset_index(drop=True)
    epochs = pdf["event_time"].to_numpy().astype("datetime64[s]").astype("int64")
    is_late = []
    for ts in epochs:
        wend = (ts // window_sec + 1) * window_sec
        is_late.append(bool(st is not None and st > wend + grace_sec))
        st = int(ts) if st is None else max(st, int(ts))
    pdf["is_late"] = is_late
    return pdf, int(st)


def tag_late_stream(
    events: DataFrame,
    key_col: str,
    window_sec: int = 5,
    grace_sec: int = 5,
) -> DataFrame:
    """Streaming form of the tagger: group by the shard key, track
    stream time in per-key state, emit every row tagged. The input must
    carry ``seq`` (Kafka offset in the live path) and ``event_time``.

    Implemented on ``applyInPandasWithState`` (Arrow-only): Spark 4's
    ``transformWithStateInPandas`` (see LateTagProcessor) is the
    forward path but its driver worker needs the python ``protobuf``
    package, not present in this container — same semantics either way.
    """
    out_schema = T.StructType(
        [f for f in events.schema.fields]
        + [T.StructField("is_late", T.BooleanType(), False)]
    )
    w, g = window_sec, grace_sec

    def tag(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        st = state.get[0] if state.exists else None
        for pdf in pdfs:
            pdf, st = _tag_batch_pdf(pdf, st, w, g)
            yield pdf
        state.update((st,))

    return events.groupBy(key_col).applyInPandasWithState(
        tag,
        outputStructType=out_schema,
        stateStructType="max_ts long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# --- T4/A5-A8: tumbling-window aggregation ----------------------------------


def supplier_stats(
    orders: DataFrame,
    window: str = "5 seconds",
    watermark: str | None = "10 seconds",
    ts_col: str = "event_time",
    key_col: str = "supplier",
    price_col: str = "price",
) -> DataFrame:
    """Windowed sum+count per supplier with formatted bounds
    (StreamsApp.kt:130-174, TableApp.kt:185-196). On a streaming input
    the watermark bounds state (T2/T5: delay = ooo 5s + grace 5s);
    on a batch input the same code is the oracle-checkable analog.
    Pass ``watermark=None`` when the input is already watermarked
    (e.g. by ``with_idle_heartbeat``)."""
    df = orders
    if df.isStreaming and watermark:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(
            F.round(F.sum(price_col), 2).alias("total_price"),
            F.count("*").alias("count"),
        )
        .select(
            F.date_format("window.start", BID_TIME_FMT).alias("window_start"),
            F.date_format("window.end", BID_TIME_FMT).alias("window_end"),
            key_col,
            "total_price",
            "count",
        )
    )


# --- T7/T8: late routing + enrichment ---------------------------------------


def enrich_late(late: DataFrame, key_col: str = "order_id") -> DataFrame:
    """Late side channel payload: add ``late=true``, serialize the whole
    record to JSON keyed by order id (StreamsApp.kt:115-128) — ready for
    a Kafka '*-skipped' topic sink."""
    return late.withColumn("late", F.lit(True)).select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[c for c in late.columns], F.col("late"))).alias("value"),
    )


def run_supplier_stats(
    tagged: DataFrame,
    stats_writer,
    late_writer,
    window: str = "5 seconds",
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
):
    """Dual-sink driver: ONE tagged stream split two ways inside a
    single foreachBatch (P4; Spark has no side outputs, the batch is the
    transaction boundary — T7, T11/T12 note: sinks get each micro-batch
    exactly once under checkpointing, writers must be idempotent).

    ``stats_writer(df, batch_id)`` receives the windowed aggregate of
    on-time rows; ``late_writer(df, batch_id)`` the enriched late rows.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            on_time = batch_df.filter(~F.col("is_late"))
            late = batch_df.filter(F.col("is_late")).drop("is_late")
            stats_writer(supplier_stats(on_time, window=window), batch_id)
            late_writer(enrich_late(late), batch_id)
        finally:
            batch_df.unpersist()

    writer = tagged.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def run_supplier_stats_update(
    stats: DataFrame,
    query_name: str,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
    sink_format: str = "memory",
):
    """Update-mode pane re-fire — the Flink ``allowedLateness`` analog
    (DataStreamApp.kt:105): Flink re-FIRES a window's updated result
    when a late-but-in-grace record arrives after the first firing.
    Spark's append mode cannot re-emit (a pane is final once the
    watermark closes it), but ``outputMode("update")`` on the SAME
    windowed aggregate emits every changed pane at every trigger — a
    late record that lands inside the watermark (ooo + grace) produces
    a second, corrected row for its window downstream.

    Downstream contract matches Flink's retract/upsert stream: the sink
    must upsert on (window_start, window_end, key) — the latest row per
    pane wins (a KV/Redis sink or compacted Kafka topic does this
    natively). State is still watermark-bounded: once the watermark
    passes window end + grace, the pane's state is evicted and can
    never re-fire again, exactly Flink's allowedLateness cutoff.
    """
    writer = (
        stats.writeStream.outputMode("update")
        .format(sink_format)
        .queryName(query_name)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


# --- stream-stream join (extension: watermark-bounded two-stream state) ------


def attribution_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "5 seconds",
    watermark: str = "10 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time attribution join: pair each right-side
    event with the left-side event it follows — ``same key AND
    left_ts <= right_ts <= left_ts + within`` (the impression->click
    attribution shape; an extension past the reference's stream-static
    enrichment, exercising Spark's two-sided join state).

    Both sides are watermarked, and the time-RANGE predicate is what
    lets Spark bound the join state: a buffered left row is evictable
    once the right watermark passes ``left_ts + within``, a right row
    once the left watermark passes ``right_ts`` — without the range
    condition the state would grow forever. ``within`` should cover the
    business attribution window, ``watermark`` the arrival skew.

    Works unchanged on batch frames (watermarks skipped — batch sees all
    data, so eviction is moot), keeping the batch ≡ stream duality
    testable. State expiry is PROVEN, not assumed:
    tests/test_streaming.py::test_stream_stream_join_state_expires
    replays three micro-batches ~100s apart at the supplier-stats
    cadence and asserts on the state-store metrics (numRowsRemoved > 0,
    numRowsTotal never reaches the inserted-row count) — the property
    that keeps this join's memory bounded on an unbounded stream.

    Pass-through columns keep their names when unambiguous; a name
    appearing on BOTH sides (two event streams sharing 'value' or
    'user_id' is the norm) is emitted as ``l_<name>`` / ``r_<name>`` so
    the output never carries duplicate column names.
    """
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    l, r = left.alias("l"), right.alias("r")
    if left.isStreaming:
        l = left.withWatermark(left_ts, watermark).alias("l")
    if right.isStreaming:
        r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {within}"))
    )
    reserved = (key, left_ts, right_ts)
    l_pass = [c for c in left.columns if c not in reserved]
    r_pass = [c for c in right.columns if c not in reserved]
    shared = set(l_pass) & set(r_pass)
    ts_clash = left_ts == right_ts
    return l.join(r, cond, how).select(
        F.col(f"l.{key}").alias(key),
        lts.alias(f"l_{left_ts}" if ts_clash else left_ts),
        rts.alias(f"r_{right_ts}" if ts_clash else right_ts),
        *[
            F.col(f"l.{c}").alias(f"l_{c}" if c in shared else c)
            for c in l_pass
        ],
        *[
            F.col(f"r.{c}").alias(f"r_{c}" if c in shared else c)
            for c in r_pass
        ],
    )
