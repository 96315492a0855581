"""Declared StructType schemas for every data shape in the engine.

Schema-on-read everywhere: the engine never relies on inference
(SURVEY.md §1.3). Two families:

1. Reference-shaped stream/table schemas (from the streaming-demos
   reference; file:line cites point into /root/reference):
   - ORDER_EVENT:   kotlin-examples/orders-avro-clients/src/main/avro/Order.avsc:1-12
   - SUPPLIER_STATS: kotlin-examples/orders-stats-streams/src/main/avro/SupplierStats.avsc:1-12
   - FEEDBACK_EVENT: product-recommender/recsys-engine/src/models.py:172-195
   - DEBEZIUM metadata fields: cdc-local/config/debezium/application.properties:21-29

2. Driver TESTDATA star-schema (TPC-H-ish; TESTDATA.md at the repo root).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference stream schemas -------------------------------------------

# Order event (Kafka topic). bid_time is a STRING "yyyy-MM-dd HH:mm:ss"
# parsed into event time downstream (BidTimeTimestampExtractor.kt:29-34).
ORDER_EVENT = T.StructType(
    [
        T.StructField("order_id", T.StringType(), False),
        T.StructField("bid_time", T.StringType(), False),
        T.StructField("price", T.DoubleType(), False),
        T.StructField("item", T.StringType(), True),
        T.StructField("supplier", T.StringType(), True),
    ]
)

# Windowed aggregation result (SupplierStats.avsc).
SUPPLIER_STATS = T.StructType(
    [
        T.StructField("window_start", T.StringType(), False),
        T.StructField("window_end", T.StringType(), False),
        T.StructField("supplier", T.StringType(), False),
        T.StructField("total_price", T.DoubleType(), False),
        T.StructField("count", T.LongType(), False),
    ]
)

# LinUCB feedback event (recsys-engine/src/models.py:172-195).
FEEDBACK_EVENT = T.StructType(
    [
        T.StructField("event_id", T.StringType(), False),
        T.StructField("product_id", T.StringType(), False),
        T.StructField("reward", T.IntegerType(), False),
        T.StructField("context_vector", T.ArrayType(T.DoubleType()), False),
        T.StructField("timestamp", T.LongType(), False),  # epoch millis
    ]
)

# Debezium ExtractNewRecordState-unwrapped envelope: the payload carries
# the row image plus these metadata fields (application.properties:21-29).
DEBEZIUM_META_FIELDS = ["op", "db", "table", "schema", "lsn", "source_ts_ms"]


def debezium_envelope(row_schema: T.StructType) -> T.StructType:
    """Schema of an unwrapped Debezium message whose row image is
    ``row_schema`` — row fields + CDC metadata, as consumed from the
    JSON ``payload`` (cdc-local/ps_sub.py:10-12)."""
    meta = [
        T.StructField("op", T.StringType(), True),  # c/u/d/r
        T.StructField("db", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("schema", T.StringType(), True),
        T.StructField("lsn", T.LongType(), True),
        T.StructField("source_ts_ms", T.LongType(), True),
    ]
    return T.StructType(list(row_schema.fields) + meta)


# --- driver TESTDATA star schema ------------------------------------------

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), True),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType(), True),
        T.StructField("s_name", T.StringType(), True),
        T.StructField("s_nationkey", T.IntegerType(), True),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType(), True),
        T.StructField("p_name", T.StringType(), True),
        T.StructField("p_brand", T.StringType(), True),
        T.StructField("p_type", T.StringType(), True),
        T.StructField("p_size", T.IntegerType(), True),
        T.StructField("p_retailprice", T.DoubleType(), True),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), True),
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_suppkey", T.LongType(), True),
        T.StructField("l_linenumber", T.IntegerType(), True),
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), True),
        T.StructField("l_linestatus", T.StringType(), True),
        T.StructField("l_shipdate", T.TimestampType(), True),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

# Declared schema per TESTDATA table. The catalog uses this to normalize
# physical quirks of the driver parquet (e.g. events.ts is written as
# parquet TIMESTAMP(NANOS), which Spark reads only as a long under
# spark.sql.legacy.parquet.nanosAsLong — the loader casts it back to a
# microsecond TimestampType to honor the declared schema).
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
