"""``s10_*`` keys: Debezium CDC ingestion, MERGE-style apply, snapshot
reconstruction and SCD2 history (sources/cdc.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.queries import key
from streaming_demos_spark.schemas import ORDERS
from streaming_demos_spark.sources import cdc


@key("s10_debezium_unwrap", oracle="""
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   strftime(o_orderdate::DATE, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   'c' AS op, 'orders' AS "table", o_orderkey * 10 AS lsn
            FROM orders
        """)
def q_debezium_unwrap(spark, sf_dir):
    # S10 CDC: envelope JSON -> typed row image + metadata.
    from streaming_demos_spark.catalog import fan_out

    # the to_json/from_json round trip is per-row heavy and the orders
    # scan is row-group-bound (3 tasks at bench scale) — fan_out
    # parallelizes the parse; at real scale the scan has many splits
    # and the guard inserts nothing (guide §2.5 input skew)
    orders = fan_out(_t(spark, sf_dir, "orders"), "o_orderkey")
    raw = cdc.make_envelopes(orders, op="c", db="demo", table="orders")
    out = cdc.debezium_unwrap(raw, "value", ORDERS)
    return out.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        # the JSON round trip parses o_orderdate in the session tz;
        # to_date renders it back in the same zone, and the final
        # date_format emits a bridge-proof STRING (a raw DATE renders
        # asymmetrically through a pandas comparator)
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias(
            "o_orderdate"
        ),
        "o_orderpriority", "op", "table", "lsn",
    )


@key("s10_cdc_apply_changes", oracle="""
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_orderkey % 2 = 0
                        THEN o_totalprice * 2
                        ELSE o_totalprice END AS o_totalprice
            FROM orders
            WHERE o_orderkey % 10 <> 0
        """)
def q_cdc_apply_changes(spark, sf_dir):
    # S10 CDC compaction: c (all rows) + u (even keys, new totalprice)
    # + d (keys % 10 == 0); latest-lsn-wins upsert/delete. The update
    # transform is *2 — exact in IEEE-754 binary doubles, so Spark and
    # DuckDB agree bit-for-bit (a *1.1+round transform manufactures
    # decimal-halfway values the two engines round differently).
    from streaming_demos_spark.catalog import fan_out

    # fan_out: the JSON envelope round trip is the dominant per-row
    # cost and the scan is row-group-bound (see q_debezium_unwrap)
    orders = fan_out(_t(spark, sf_dir, "orders"), "o_orderkey")
    creates = cdc.make_envelopes(orders, "c", "demo", "orders", lsn_offset=0)
    updates = cdc.make_envelopes(
        orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        "u", "demo", "orders", lsn_offset=1,
    )
    deletes = cdc.make_envelopes(
        orders.filter(F.col("o_orderkey") % 10 == 0), "d", "demo", "orders", lsn_offset=2
    )
    changes = cdc.debezium_unwrap(
        creates.unionByName(updates).unionByName(deletes), "value", ORDERS
    )
    current = cdc.apply_changes(changes, ["o_orderkey"], seq_col="lsn")
    return current.select("o_orderkey", "o_orderstatus", "o_totalprice")


@key("s10_snapshot_diff", oracle="""
    WITH upd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
    ),
    v2 AS (
        SELECT * FROM upd WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM upd WHERE o_orderkey % 101 = 0
    ),
    j AS (
        SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'i'
                    WHEN n.o_orderkey IS NULL THEN 'd'
                    WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey)
                      OR NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
                      OR NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
                      OR NOT (o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate)
                      OR NOT (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
                    THEN 'u' END AS op,
               array_to_string(list_sort(list_filter([
                   CASE WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey) THEN 'o_custkey' END,
                   CASE WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) THEN 'o_orderstatus' END,
                   CASE WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) THEN 'o_totalprice' END,
                   CASE WHEN NOT (o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate) THEN 'o_orderdate' END,
                   CASE WHEN NOT (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority) THEN 'o_orderpriority' END
               ], x -> x IS NOT NULL)), ',') AS chg
        FROM orders o FULL OUTER JOIN v2 n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey, op,
           CASE WHEN op = 'u' THEN chg ELSE '' END AS changed_cols
    FROM j WHERE op IS NOT NULL
""")
def q_snapshot_diff(spark, sf_dir):
    # CDC-OUT: diff two snapshot versions into a minimal change feed
    # (cdc.snapshot_diff — the inverse of s10_cdc_apply_changes). v2 is
    # derived deterministically from orders: price bump on key%7,
    # deletes on key%13, negated-key inserts on key%101.
    orders = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    upd = orders.withColumn(
        "o_totalprice",
        F.when(key % 7 == 0, F.col("o_totalprice") + 10).otherwise(
            F.col("o_totalprice")
        ),
    )
    v2 = upd.filter(key % 13 != 0).unionByName(
        upd.filter(key % 101 == 0).withColumn("o_orderkey", -key)
    )
    return cdc.snapshot_diff(orders, v2, ["o_orderkey"])


@key("s10_cdc_snapshot_at", oracle="""
            WITH ch AS (
                SELECT o_orderkey, o_totalprice, 'c' AS op,
                       o_orderkey * 10 AS lsn
                FROM orders
                UNION ALL
                SELECT o_orderkey, o_totalprice * 2, 'u', o_orderkey * 10 + 1
                FROM orders WHERE o_orderkey % 2 = 0
                UNION ALL
                SELECT o_orderkey, o_totalprice, 'd', o_orderkey * 10 + 2
                FROM orders WHERE o_orderkey % 10 = 0
            ),
            v AS (
                SELECT *, lsn AS valid_from,
                       lead(lsn) OVER (PARTITION BY o_orderkey ORDER BY lsn)
                           AS valid_to
                FROM ch
            )
            SELECT o_orderkey, o_totalprice, valid_from, valid_to
            FROM v
            WHERE op <> 'd'
              AND valid_from <= 100000
              AND (valid_to IS NULL OR valid_to > 100000)
        """)
def q_cdc_snapshot_at(spark, sf_dir):
    # Time-travel: the orders state AS OF lsn 100000, read as a pure
    # filter over the SCD-2 history (no window, no shuffle).
    from streaming_demos_spark.catalog import fan_out

    # fan_out: JSON envelope parse parallelism (see q_debezium_unwrap)
    orders = fan_out(_t(spark, sf_dir, "orders"), "o_orderkey")
    creates = cdc.make_envelopes(orders, "c", "demo", "orders", lsn_offset=0)
    updates = cdc.make_envelopes(
        orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        "u", "demo", "orders", lsn_offset=1,
    )
    deletes = cdc.make_envelopes(
        orders.filter(F.col("o_orderkey") % 10 == 0), "d", "demo", "orders",
        lsn_offset=2,
    )
    changes = cdc.debezium_unwrap(
        creates.unionByName(updates).unionByName(deletes), "value", ORDERS
    )
    hist = cdc.scd2_history(changes, ["o_orderkey"], seq_col="lsn")
    snap = cdc.snapshot_at(hist, seq=100_000)
    return snap.select("o_orderkey", "o_totalprice", "valid_from", "valid_to")


@key("s10_cdc_scd2_history", oracle="""
            WITH ch AS (
                SELECT o_orderkey, o_totalprice, 'c' AS op,
                       o_orderkey * 10 AS lsn
                FROM orders
                UNION ALL
                SELECT o_orderkey, o_totalprice * 2, 'u', o_orderkey * 10 + 1
                FROM orders WHERE o_orderkey % 2 = 0
                UNION ALL
                SELECT o_orderkey, o_totalprice, 'd', o_orderkey * 10 + 2
                FROM orders WHERE o_orderkey % 10 = 0
            ),
            v AS (
                SELECT *, lsn AS valid_from,
                       lead(lsn) OVER (PARTITION BY o_orderkey ORDER BY lsn)
                           AS valid_to
                FROM ch
            )
            SELECT o_orderkey, o_totalprice, valid_from, valid_to,
                   valid_to IS NULL AS is_current
            FROM v WHERE op <> 'd'
        """)
def q_cdc_scd2_history(spark, sf_dir):
    # S10 CDC versioned history: the same deterministic c/u/d change
    # log as q_cdc_apply_changes, but kept as SCD-2 validity intervals
    # (every version survives; deletes close their predecessor).
    from streaming_demos_spark.catalog import fan_out

    # fan_out: JSON envelope parse parallelism (see q_debezium_unwrap)
    orders = fan_out(_t(spark, sf_dir, "orders"), "o_orderkey")
    creates = cdc.make_envelopes(orders, "c", "demo", "orders", lsn_offset=0)
    updates = cdc.make_envelopes(
        orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        "u", "demo", "orders", lsn_offset=1,
    )
    deletes = cdc.make_envelopes(
        orders.filter(F.col("o_orderkey") % 10 == 0), "d", "demo", "orders",
        lsn_offset=2,
    )
    changes = cdc.debezium_unwrap(
        creates.unionByName(updates).unionByName(deletes), "value", ORDERS
    )
    hist = cdc.scd2_history(changes, ["o_orderkey"], seq_col="lsn")
    return hist.select(
        "o_orderkey", "o_totalprice", "valid_from", "valid_to", "is_current"
    )
