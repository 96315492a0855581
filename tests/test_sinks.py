"""Tests for JDBC scan/sink (S2/S3, embedded Derby), debug sinks
(S11/S16), and the stateful metric-delta emitter (A4 streaming form)."""

from __future__ import annotations

import contextlib
import io
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from streaming_demos_spark.sources import jdbc as J
from streaming_demos_spark import sinks as SK


# --- S2/S3: JDBC against embedded Derby --------------------------------------


@pytest.fixture(scope="module")
def derby_db(scratch_dir):
    d = tempfile.mkdtemp(prefix="sparkgraft_derby_", dir=scratch_dir)
    yield f"{d}/db"
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def seeded_table(spark, derby_db):
    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") * 2.0).alias("v"),
        (F.col("id") % 5).cast("string").alias("grp"),
    )
    J.write_jdbc(df, J.derby_url(derby_db), "T_ORDERS", mode="overwrite",
                 driver=J.DERBY_DRIVER, column_types="grp VARCHAR(8)")
    return derby_db


def test_jdbc_roundtrip_and_append(spark, seeded_table):
    url = J.derby_url(seeded_table, create=False)
    back = J.read_jdbc(spark, url, "T_ORDERS", driver=J.DERBY_DRIVER)
    assert back.count() == 200
    extra = spark.range(200, 210).select(
        F.col("id"), (F.col("id") * 2.0).alias("v"),
        F.lit("9").alias("grp"),
    )
    J.write_jdbc(extra, url, "T_ORDERS", mode="append", driver=J.DERBY_DRIVER)
    assert J.read_jdbc(spark, url, "T_ORDERS", driver=J.DERBY_DRIVER).count() == 210


def test_jdbc_filter_pushdown(spark, seeded_table):
    """S3: the WHERE clause must reach the remote database, not Spark
    (api.py:35-63 ships it inside the SQL text; Catalyst pushes it)."""
    url = J.derby_url(seeded_table, create=False)
    scan = J.read_jdbc(spark, url, "T_ORDERS", driver=J.DERBY_DRIVER)
    q = scan.filter(F.col("v") > 100.0).select("id", "v")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "GreaterThan(v," in plan
    assert q.count() == sum(1 for i in range(210) if i * 2.0 > 100.0)


def test_jdbc_partitioned_scan(spark, seeded_table):
    """Scale path: range-sliced parallel read — N tasks, same rows."""
    url = J.derby_url(seeded_table, create=False)
    scan = J.read_jdbc(
        spark, url, "T_ORDERS", driver=J.DERBY_DRIVER,
        partition_col="id", lower_bound=0, upper_bound=210, num_partitions=4,
    )
    assert scan.rdd.getNumPartitions() == 4
    assert scan.count() == 210


def test_jdbc_partitioned_scan_requires_all_bounds(spark, seeded_table):
    with pytest.raises(ValueError):
        J.read_jdbc(
            spark, J.derby_url(seeded_table, create=False), "T_ORDERS",
            partition_col="id", lower_bound=0,
        )


def test_jdbc_subquery_scan(spark, seeded_table):
    """dbtable accepts a pushdown subquery — the reference's
    join-inside-SQL-text pattern (api.py:37-58)."""
    url = J.derby_url(seeded_table, create=False)
    sub = '(SELECT "grp", COUNT(*) AS n FROM T_ORDERS GROUP BY "grp") AS sq'
    agg = J.read_jdbc(spark, url, sub, driver=J.DERBY_DRIVER)
    got = {r.grp: r.N for r in agg.collect()}
    assert got["0"] == 40 and got["9"] == 10


# --- S11/S16: debug sinks ----------------------------------------------------


@pytest.fixture()
def stream_src(spark, scratch_dir):
    d = tempfile.mkdtemp(prefix="sparkgraft_sink_", dir=scratch_dir)
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, amount double")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/src")
    stream = spark.readStream.schema(df.schema).parquet(f"{d}/src")
    yield d, stream
    shutil.rmtree(d, ignore_errors=True)


def test_memory_sink_collects(spark, stream_src):
    d, stream = stream_src
    q = SK.memory_sink(stream, "dbg_mem", trigger={"availableNow": True})
    q.awaitTermination(120)
    assert sorted(
        r.id for r in spark.sql("SELECT id FROM dbg_mem").collect()
    ) == [1, 2]


def test_console_sink_runs(stream_src):
    d, stream = stream_src
    q = SK.console_sink(stream, trigger={"availableNow": True})
    q.awaitTermination(120)
    assert q.exception() is None


# --- A4: stateful metric deltas ----------------------------------------------


def test_metric_delta_writer_tracks_previous_batch(spark):
    def metrics(df):
        return df.agg(
            F.sum("amount").alias("revenue"),
            F.countDistinct("id").alias("orders"),
        )

    pushed = []
    writer = SK.MetricDeltaWriter(metrics, lambda p, bid: pushed.append(p))
    b1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, amount double")
    b2 = spark.createDataFrame([(3, 50.0)], "id long, amount double")
    writer(b1, 0)
    writer(b2, 1)
    assert pushed[0]["revenue"] == {"value": 30.0, "delta": 0.0}
    assert pushed[1]["revenue"] == {"value": 50.0, "delta": 20.0}
    assert pushed[1]["orders"] == {"value": 1.0, "delta": -1.0}
