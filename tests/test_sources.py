"""Tests for Kafka wiring (S4-S7), file sources (S1/S8), hybrid
bootstrap (S9), and the periodic push sink (S12). No broker exists in
this container, so the Kafka codec/projection column transforms are
exercised on batch frames (they are identical expressions on streaming
frames); option builders are checked structurally."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from streaming_demos_spark.schemas import ORDER_EVENT
from streaming_demos_spark.sources import files as FS
from streaming_demos_spark.sources import kafka as K
from streaming_demos_spark.streaming import bootstrap as B


# --- Kafka codecs ------------------------------------------------------------


def _wire(schema_id: int, payload: bytes) -> bytearray:
    return bytearray(b"\x00" + schema_id.to_bytes(4, "big") + payload)


def test_strip_confluent_header(spark):
    rows = [
        (1, _wire(7, b"avro-bytes")),
        (2, _wire(1_000_000, b"x")),
        (3, bytearray(b"\x01garbage-no-magic")),
    ]
    df = spark.createDataFrame(rows, "id int, value binary")
    out = {
        r.id: (bytes(r.payload) if r.payload is not None else None)
        for r in df.select(
            "id", K.strip_confluent_header("value").alias("payload")
        ).collect()
    }
    assert out[1] == b"avro-bytes"
    assert out[2] == b"x"
    assert out[3] is None  # bad magic byte -> NULL, not garbage


def test_confluent_schema_id(spark):
    rows = [(1, _wire(7, b"p")), (2, _wire(1_000_000, b"p")), (3, _wire(0, b"p"))]
    df = spark.createDataFrame(rows, "id int, value binary")
    out = {r.id: r.sid for r in df.select("id", K.confluent_schema_id("value").alias("sid")).collect()}
    assert out == {1: 7, 2: 1_000_000, 3: 0}


def test_parse_order_json_roundtrip(spark):
    orders = spark.createDataFrame(
        [("o1", "2024-01-01 00:00:01", 10.5, "beer", "sup1")], ORDER_EVENT
    )
    raw = orders.select(F.to_json(F.struct(*orders.columns)).alias("value"))
    back = K.parse_order_json(raw).collect()[0]
    assert (back.order_id, back.price, back.supplier) == ("o1", 10.5, "sup1")


def test_to_kafka_json_keyed(spark):
    df = spark.createDataFrame([(42, "late-stuff")], "order_id long, info string")
    r = K.to_kafka_json(df, "order_id").collect()[0]
    assert r.key == "42"
    assert json.loads(r.value) == {"order_id": 42, "info": "late-stuff"}


def test_option_builders():
    src = K.source_options("b:9092", "orders", max_offsets_per_trigger=1000)
    assert src["subscribe"] == "orders" and src["startingOffsets"] == "earliest"
    assert src["maxOffsetsPerTrigger"] == "1000"
    snk = K.sink_options("b:9092", "stats")
    assert snk["kafka.enable.idempotence"] == "true"
    assert snk["kafka.compression.type"] == "lz4"


def test_parse_confluent_avro_gated(spark):
    df = spark.createDataFrame([(1, _wire(7, b"p"))], "id int, value binary")
    with pytest.raises(NotImplementedError):
        df.select(K.parse_confluent_avro(F.col("value"), '{"type":"string"}')).collect()


# --- pure-Python Avro codec (S5/S6 without the spark-avro jar) ---------------

ORDER_AVSC = json.dumps(
    {
        # orders-avro-clients/src/main/avro/Order.avsc, verbatim fields
        "namespace": "me.jaehyeon.avro",
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "order_id", "type": "string"},
            {"name": "bid_time", "type": "string"},
            {"name": "price", "type": "double"},
            {"name": "item", "type": "string"},
            {"name": "supplier", "type": "string"},
        ],
    }
)


def test_avro_known_byte_vectors():
    """Hand-computed vectors from the Avro 1.11 binary spec — the codec
    must match the wire format, not merely round-trip itself."""
    import struct

    from streaming_demos_spark.sources import avro_codec as AC

    # zigzag varints: 0->00, -1->01, 1->02, 64 -> zigzag 128 -> 80 01
    assert AC._zigzag_encode(0) == b"\x00"
    assert AC._zigzag_encode(-1) == b"\x01"
    assert AC._zigzag_encode(1) == b"\x02"
    assert AC._zigzag_encode(64) == b"\x80\x01"
    for n in (0, -1, 1, 64, -8192, 2**40):
        assert AC._zigzag_decode(AC._zigzag_encode(n), 0) == (n, len(AC._zigzag_encode(n)))
    # string = varint length + utf8
    fields = AC.parse_schema('{"type":"record","name":"r","fields":[{"name":"s","type":"string"}]}')
    assert AC.encode_record(fields, {"s": "abc"}) == b"\x06abc"
    # double = 8-byte LE IEEE754
    fields = AC.parse_schema('{"type":"record","name":"r","fields":[{"name":"d","type":"double"}]}')
    assert AC.encode_record(fields, {"d": 12.5}) == struct.pack("<d", 12.5)
    # ['null', long] union: branch varint then value; null = branch 0 only
    fields = AC.parse_schema(
        '{"type":"record","name":"r","fields":[{"name":"n","type":["null","long"]}]}'
    )
    assert AC.encode_record(fields, {"n": None}) == b"\x00"
    assert AC.encode_record(fields, {"n": 3}) == b"\x02\x06"
    assert AC.decode_record(fields, b"\x00") == {"n": None}
    assert AC.decode_record(fields, b"\x02\x06") == {"n": 3}


def test_avro_order_record_roundtrip():
    from streaming_demos_spark.sources import avro_codec as AC

    fields = AC.parse_schema(ORDER_AVSC)
    rec = {
        "order_id": "o-1",
        "bid_time": "2024-01-01 00:00:03",
        "price": 31.5,
        "item": "beer",
        "supplier": "sup-αβ",  # non-ASCII utf8
    }
    framed = AC.frame_confluent(AC.encode_record(fields, rec), schema_id=42)
    assert framed[0] == 0 and AC.unframe_confluent(framed)[0] == 42
    assert AC.decode_record(fields, AC.unframe_confluent(framed)[1]) == rec


def test_avro_spark_encode_decode_roundtrip(spark):
    from streaming_demos_spark.sources import avro_codec as AC

    rows = [
        ("o1", "2024-01-01 00:00:01", 10.0, "beer", "sup1"),
        ("o2", "2024-01-01 00:00:03", 20.25, "wine", "sup2"),
    ]
    df = spark.createDataFrame(
        rows, "order_id string, bid_time string, price double, item string, supplier string"
    )
    wire = AC.encode_confluent_avro(df, ORDER_AVSC, schema_id=7, key_col="order_id")
    assert wire.columns == ["key", "value"]  # kafka sink projection
    decoded = AC.decode_confluent_avro(wire, ORDER_AVSC)
    assert sorted(tuple(r) for r in decoded.collect()) == sorted(rows)
    # schema id survives the frame (JVM-side extraction)
    ids = wire.select(K.confluent_schema_id("value").alias("sid")).collect()
    assert {r.sid for r in ids} == {7}


FEEDBACK_AVSC = json.dumps(
    {
        # product-recommender/recsys-engine/src/models.py:172-195,
        # verbatim fields: primitive-array + logicalType coverage
        "namespace": "me.jaehyeon",
        "type": "record",
        "name": "FeedbackEvent",
        "fields": [
            {"name": "event_id", "type": "string"},
            {"name": "product_id", "type": "string"},
            {"name": "reward", "type": "int"},
            {"name": "context_vector", "type": {"type": "array", "items": "double"}},
            {"name": "timestamp", "type": "long", "logicalType": "timestamp-millis"},
        ],
    }
)


def test_avro_array_spec_vectors():
    """Array encoding straight from the Avro 1.11 spec: blocks of
    (zigzag count, items), 0 terminator; decoder must also accept the
    negative-count block form (|count| items prefixed by byte size)."""
    import struct

    from streaming_demos_spark.sources import avro_codec as AC

    fields = AC.parse_schema(
        '{"type":"record","name":"r","fields":'
        '[{"name":"a","type":{"type":"array","items":"long"}}]}'
    )
    # [3, 4]: count 2 -> 0x04, items zigzag 6/8, terminator 0x00
    assert AC.encode_record(fields, {"a": [3, 4]}) == b"\x04\x06\x08\x00"
    assert AC.decode_record(fields, b"\x04\x06\x08\x00") == {"a": [3, 4]}
    # empty array = bare terminator
    assert AC.encode_record(fields, {"a": []}) == b"\x00"
    assert AC.decode_record(fields, b"\x00") == {"a": []}
    # negative-count block: count -2 (zigzag 0x03), block size 2 bytes
    # (zigzag 0x04), items, terminator — writer-optional, reader-required
    assert AC.decode_record(fields, b"\x03\x04\x06\x08\x00") == {"a": [3, 4]}
    # array<double> items are raw LE doubles
    dfields = AC.parse_schema(
        '{"type":"record","name":"r","fields":'
        '[{"name":"a","type":{"type":"array","items":"double"}}]}'
    )
    assert AC.encode_record(dfields, {"a": [1.5]}) == b"\x02" + struct.pack(
        "<d", 1.5
    ) + b"\x00"


def test_avro_feedback_event_roundtrip(spark):
    """FeedbackEvent end-to-end: python codec roundtrip + the Spark
    mapInPandas encode->decode path with the array column."""
    from streaming_demos_spark.sources import avro_codec as AC

    fields = AC.parse_schema(FEEDBACK_AVSC)
    rec = {
        "event_id": "e-1",
        "product_id": "p-9",
        "reward": 1,
        "context_vector": [0.25, -1.5, 3.0],
        "timestamp": 1700000000123,
    }
    framed = AC.frame_confluent(AC.encode_record(fields, rec), schema_id=11)
    assert AC.decode_record(fields, AC.unframe_confluent(framed)[1]) == rec

    df = spark.createDataFrame(
        [("e-1", "p-9", 1, [0.25, -1.5, 3.0], 1700000000123),
         ("e-2", "p-3", 0, [], 1700000000456)],
        "event_id string, product_id string, reward int, "
        "context_vector array<double>, timestamp long",
    )
    wire = AC.encode_confluent_avro(df, FEEDBACK_AVSC, schema_id=11, key_col="event_id")
    got = sorted(
        (r.event_id, r.product_id, r.reward, list(r.context_vector), r.timestamp)
        for r in AC.decode_confluent_avro(wire, FEEDBACK_AVSC).collect()
    )
    assert got == [
        ("e-1", "p-9", 1, [0.25, -1.5, 3.0], 1700000000123),
        ("e-2", "p-3", 0, [], 1700000000456),
    ]


def test_avro_bad_frame_policies(spark):
    from streaming_demos_spark.sources import avro_codec as AC

    fields = AC.parse_schema(ORDER_AVSC)
    good = AC.frame_confluent(
        AC.encode_record(
            fields,
            {"order_id": "o1", "bid_time": "t", "price": 1.0, "item": "i", "supplier": "s"},
        ),
        schema_id=7,
    )
    bad = b"\x01garbage"  # wrong magic
    df = spark.createDataFrame([(good,), (bad,)], "value binary")
    nulled = AC.decode_confluent_avro(df, ORDER_AVSC, bad_row_policy="null").collect()
    assert len(nulled) == 2 and sum(r.order_id is None for r in nulled) == 1
    dropped = AC.decode_confluent_avro(df, ORDER_AVSC, bad_row_policy="drop").collect()
    assert [r.order_id for r in dropped] == ["o1"]
    with pytest.raises(Exception):
        AC.decode_confluent_avro(df, ORDER_AVSC, bad_row_policy="fail").collect()


# --- file sources ------------------------------------------------------------


@pytest.fixture(scope="module")
def csv_dir(scratch_dir):
    d = tempfile.mkdtemp(prefix="sparkgraft_csv_", dir=scratch_dir)
    with open(f"{d}/data.csv", "w") as f:
        f.write("id,name,score\n")
        f.write("1,alpha,0.5\n")
        f.write("not-a-number,beta,0.7\n")   # malformed id
        f.write("3,gamma,0.9\n")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SCHEMA = "id int, name string, score double"


def test_read_csv_drop_bad_rows(spark, csv_dir):
    from pyspark.sql.types import _parse_datatype_string

    out = FS.read_csv(spark, f"{csv_dir}/data.csv", _parse_datatype_string(SCHEMA))
    assert sorted((r.id, r.name) for r in out.collect()) == [(1, "alpha"), (3, "gamma")]


def test_read_csv_permissive_keeps_bad_rows(spark, csv_dir):
    from pyspark.sql.types import _parse_datatype_string

    out = FS.read_csv(
        spark, f"{csv_dir}/data.csv", _parse_datatype_string(SCHEMA), bad_rows="permissive"
    )
    rows = out.collect()
    assert len(rows) == 3
    assert any(r.id is None and r.name == "beta" for r in rows)


def test_read_csv_stream_bounded(spark, csv_dir):
    from pyspark.sql.types import _parse_datatype_string

    chk = f"{csv_dir}/chk"
    stream = FS.read_csv_stream(spark, csv_dir, _parse_datatype_string(SCHEMA))
    q = (
        stream.writeStream.format("memory")
        .queryName("csv_stream")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.id for r in spark.sql("SELECT id FROM csv_stream").collect())
    assert got == [1, 3]  # malformed row skipped (S8 bad-row policy)


def test_parse_csv_lines_permissive(spark):
    df = spark.createDataFrame([("1,ok,2.0",), ("broken",)], ["line"])
    from pyspark.sql.types import _parse_datatype_string

    out = FS.parse_csv_lines(df, "line", _parse_datatype_string(SCHEMA), bad_rows="permissive")
    assert out.count() == 2


# --- hybrid bootstrap + periodic refresh ------------------------------------


def test_hybrid_stream_union_tags_origin(spark, scratch_dir):
    d = tempfile.mkdtemp(prefix="sparkgraft_hybrid_", dir=scratch_dir)
    try:
        hist = spark.createDataFrame([(1, "h"), (2, "h")], "id long, v string")
        hist.coalesce(1).write.mode("overwrite").parquet(f"{d}/hist")
        live_src = f"{d}/live"
        os.makedirs(live_src)
        live_df = spark.createDataFrame([(3, "l")], "id long, v string")
        tmp = f"{d}/tmp"
        live_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], f"{live_src}/f.parquet")

        live = spark.readStream.schema(live_df.schema).parquet(live_src)
        hybrid = B.hybrid_stream(spark, f"{d}/hist", hist.schema, live)
        q = (
            hybrid.writeStream.format("memory")
            .queryName("hybrid")
            .option("checkpointLocation", f"{d}/chk")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT id, _origin FROM hybrid").collect()
        origins = {r.id: r._origin for r in rows}
        assert origins == {1: "history", 2: "history", 3: "live"}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_periodic_refresh_pushes_json_records(spark, scratch_dir):
    d = tempfile.mkdtemp(prefix="sparkgraft_refresh_", dir=scratch_dir)
    try:
        src = f"{d}/src"
        os.makedirs(src)
        df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, amount double")
        tmp = f"{d}/tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/f.parquet")

        pushed = []
        stream = spark.readStream.schema(df.schema).parquet(src)
        q = B.periodic_refresh(
            stream,
            emit=lambda recs, bid: pushed.append((bid, recs)),
            checkpoint_dir=f"{d}/chk",
            available_now=True,
        )
        q.awaitTermination(120)
        assert len(pushed) == 1
        recs = sorted(pushed[0][1], key=lambda r: r["id"])
        assert recs == [{"id": 1, "amount": 10.0}, {"id": 2, "amount": 20.0}]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_parquet_schema_evolution(spark, tmp_path):
    from pyspark.sql import types as T

    from streaming_demos_spark.sources import files as FS

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(old)
    spark.createDataFrame(
        [(2, "b", 0.9)], "id long, name string, quality double"
    ).write.parquet(new)
    expected = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("quality", T.DoubleType()),
            T.StructField("lang", T.StringType()),  # not yet written anywhere
        ]
    )
    out = {
        r.id: r
        for r in FS.read_parquet_evolving(spark, old, new, expected=expected).collect()
    }
    assert out[1].quality is None and out[2].quality == 0.9
    assert out[1].lang is None and out[2].lang is None
    assert list(out[1].asDict()) == ["id", "name", "quality", "lang"]


def test_json_corrupt_capture_routes_bad_lines(spark, tmp_path):
    from pyspark.sql import types as T

    from streaming_demos_spark.sources import files as FS

    p = str(tmp_path / "j")
    os.makedirs(p)
    with open(f"{p}/part.json", "w") as fh:
        fh.write('{"k": 1, "v": "ok"}\n')
        fh.write("this is not json\n")
        fh.write('{"k": 2, "v": "fine"}\n')
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    good, bad = FS.read_json_with_corrupt_capture(spark, p, schema)
    assert {r.k for r in good.collect()} == {1, 2}
    bad_rows = [r[0] for r in bad.collect()]
    assert bad_rows == ["this is not json"]


def test_ns_parquet_loads_as_ntz_under_non_utc_session(spark, tmp_path):
    """Regression: the driver's parquet stores timestamps as
    TIMESTAMP(NANOS). pyspark 4.1.2 honors `nanosAsLong` (the native
    read throws PARQUET_TYPE_ILLEGAL), so `catalog.load_table` sees a
    nanos bigint and must rebuild it as TIMESTAMP_NTZ — the old
    `timestamp_micros` bridge produced a session-zone LTZ that shifted
    dates under non-UTC sessions (two rounds of driver-only reds)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from streaming_demos_spark import catalog

    sf_dir = str(tmp_path / "nssf")
    os.makedirs(sf_dir)
    # 2024-03-01T12:00:00 naive, as nanos-of-epoch — crosses the date
    # line in America/New_York only if read as LTZ at 00:30.
    wall = ["2024-03-01 00:30:00", "2024-06-15 12:00:00"]
    arr = pa.array([f"{w}" for w in wall]).cast(pa.timestamp("us")).cast(
        pa.timestamp("ns")
    )
    tbl = pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": arr,
                    "user_id": pa.array([1, 1], pa.int64()),
                    "event_type": pa.array(["view", "view"]),
                    "value": pa.array([1.0, 2.0]),
                    "props": pa.array(["{}", "{}"])})
    pq.write_table(tbl, os.path.join(sf_dir, "events.parquet"),
                   store_schema=False)

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = catalog.load_table(spark, sf_dir, "events")
        dtype = dict(df.dtypes)["ts"]
        assert dtype == "timestamp_ntz", dtype
        dates = sorted(
            r.d.isoformat()
            for r in df.select(F.to_date("ts").alias("d")).collect()
        )
        # Naive wall dates must survive the non-UTC session zone: the
        # old LTZ bridge rendered 2024-03-01 00:30 as 2024-02-29 EST.
        assert dates == ["2024-03-01", "2024-06-15"], dates
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        catalog._TABLE_CACHE.pop((spark, sf_dir, "events"), None)


# --- Schema Registry client (S5 companion, registry.py) ----------------------
# No live registry exists in this container: the canned transport
# below replays the REST responses the reference's
# CachedSchemaRegistryClient consumes (orders-stats-flink .../kafka/
# Utils.kt:48-70), so URL formation, caching, error wrapping, and the
# driver-side resolve -> executor decode handoff are all exercised.

_ORDER_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "order_id", "type": "string"},
            {"name": "amount", "type": "double"},
        ],
    }
)


class _CannedTransport:
    def __init__(self, responses):
        self.responses = responses
        self.calls = []

    def __call__(self, method, url, body):
        self.calls.append((method, url, body))
        if url not in self.responses:
            return 404, json.dumps({"error_code": 40403}).encode()
        return 200, json.dumps(self.responses[url]).encode()


def test_registry_latest_and_by_id_with_caching():
    from streaming_demos_spark.sources.registry import SchemaRegistryClient

    base = "http://registry:8081"
    t = _CannedTransport(
        {
            f"{base}/subjects/orders-value/versions/latest": {
                "id": 7, "version": 3, "schema": _ORDER_SCHEMA,
            },
            f"{base}/schemas/ids/7": {"schema": _ORDER_SCHEMA},
        }
    )
    c = SchemaRegistryClient(base + "/", transport=t)  # trailing / stripped
    assert c.get_latest("orders-value") == (7, 3, _ORDER_SCHEMA)
    # the immutable id->schema binding was seeded by get_latest and is
    # memoized; by-id lookups never touch the transport again
    assert c.get_schema_by_id(7) == _ORDER_SCHEMA
    assert c.get_schema_by_id(7) == _ORDER_SCHEMA
    assert len(t.calls) == 1
    # "latest" is a MUTABLE pointer: every call must re-ask the
    # registry (a register by any process moves it)
    assert c.get_latest("orders-value")[0] == 7
    assert len(t.calls) == 2
    assert all(m == "GET" for m, _, _ in t.calls)


def test_registry_missing_subject_raises_with_context():
    from streaming_demos_spark.sources.registry import (
        SchemaRegistryClient,
        SchemaRegistryError,
    )

    c = SchemaRegistryClient("http://registry:8081", transport=_CannedTransport({}))
    with pytest.raises(SchemaRegistryError) as e:
        c.get_latest("nope-value")
    assert "nope-value" in str(e.value)
    with pytest.raises(SchemaRegistryError):
        c.get_schema_by_id(99)


def test_registry_cache_is_bounded():
    from streaming_demos_spark.sources.registry import SchemaRegistryClient

    base = "http://registry:8081"
    t = _CannedTransport(
        {f"{base}/schemas/ids/{i}": {"schema": _ORDER_SCHEMA} for i in range(5)}
    )
    c = SchemaRegistryClient(base, transport=t, cache_capacity=2)
    for i in range(5):
        c.get_schema_by_id(i)
    c.get_schema_by_id(0)  # evicted -> re-fetched
    assert len(t.calls) == 6


def test_registry_cache_eviction_is_lru_not_fifo():
    # A hit must refresh recency: after touching id 0, filling the
    # 2-slot cache with id 2 evicts the COLD id 1, not the hot id 0
    # (FIFO would re-fetch 0 here — the reference client's LRU intent).
    from streaming_demos_spark.sources.registry import SchemaRegistryClient

    base = "http://registry:8081"
    t = _CannedTransport(
        {f"{base}/schemas/ids/{i}": {"schema": _ORDER_SCHEMA} for i in range(3)}
    )
    c = SchemaRegistryClient(base, transport=t, cache_capacity=2)
    c.get_schema_by_id(0)
    c.get_schema_by_id(1)
    c.get_schema_by_id(0)  # hit — must move 0 to most-recent
    c.get_schema_by_id(2)  # fills cache — evicts 1, keeps hot 0
    c.get_schema_by_id(0)  # still cached: no new transport call
    assert len(t.calls) == 3
    c.get_schema_by_id(1)  # was evicted: re-fetched
    assert len(t.calls) == 4


def test_registry_register_then_resolve_then_decode(spark):
    from streaming_demos_spark.sources import avro_codec as AC
    from streaming_demos_spark.sources.registry import (
        SchemaRegistryClient,
        resolve_reader_schema,
    )

    base = "http://registry:8081"
    t = _CannedTransport(
        {
            f"{base}/subjects/orders-value/versions": {"id": 7},
            f"{base}/subjects/orders-value/versions/latest": {
                "id": 7, "version": 1, "schema": _ORDER_SCHEMA,
            },
        }
    )
    c = SchemaRegistryClient(base, transport=t)
    sid = c.register("orders-value", _ORDER_SCHEMA)
    assert sid == 7
    assert t.calls[0][0] == "POST"
    # driver-side resolution feeds the executor-side Arrow decode
    schema_id, schema = resolve_reader_schema(c, "orders-value")
    fields = AC.parse_schema(schema)
    payload = AC.frame_confluent(
        AC.encode_record(fields, {"order_id": "o-1", "amount": 12.5}),
        schema_id,
    )
    df = spark.createDataFrame([(payload,)], "value binary")
    out = AC.decode_confluent_avro(df, schema).collect()
    assert [(r.order_id, r.amount) for r in out] == [("o-1", 12.5)]


def test_registry_latest_sees_new_version_after_register():
    # staleness guard: a second get_latest must observe a version
    # registered after the first call (the mutable-pointer contract)
    from streaming_demos_spark.sources.registry import SchemaRegistryClient

    base = "http://registry:8081"
    latest = {"id": 7, "version": 1, "schema": _ORDER_SCHEMA}
    calls = []

    def transport(method, url, body):
        calls.append((method, url))
        if url.endswith("/versions/latest"):
            return 200, json.dumps(latest).encode()
        if method == "POST":
            latest.update({"id": 8, "version": 2})
            return 200, json.dumps({"id": 8}).encode()
        return 404, b"{}"

    c = SchemaRegistryClient(base, transport=transport)
    assert c.get_latest("orders-value")[0] == 7
    assert c.register("orders-value", _ORDER_SCHEMA) == 8
    assert c.get_latest("orders-value")[:2] == (8, 2)


def test_registry_register_transport_error_is_wrapped():
    from streaming_demos_spark.sources.registry import (
        SchemaRegistryClient,
        SchemaRegistryError,
    )

    def down(method, url, body):
        raise OSError("connection refused")

    c = SchemaRegistryClient("http://registry:8081", transport=down)
    with pytest.raises(SchemaRegistryError) as e:
        c.register("orders-value", _ORDER_SCHEMA)
    assert "orders-value" in str(e.value)
