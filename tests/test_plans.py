"""Plan-shape audits (scale posture): assert the physical plans keep
the properties that survive a 100x scale-up — pushdown reaching the
scan, pruned read schemas, no un-partitioned windows over fact tables,
no forced broadcasts of fact-scaled inputs."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushes_filter_and_prunes(spark):
    plan = plan_of(E.queries()["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: the scan must not read all 16 lineitem columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_drop_columns_prunes_scan(spark):
    plan = plan_of(E.queries()["p5_p6_drop_columns"](spark, SF))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema  # dropped payload never leaves the scan


def test_time_split_has_no_global_window(spark):
    plan = plan_of(E.queries()["o4_time_split"](spark, SF))
    assert "Window" not in plan  # boundary-value split, not a global row_number


def test_dashboard_feed_does_not_force_broadcast_of_customer(spark):
    # customer is fact-scaled: the plan may broadcast it at tiny sf
    # (AQE's choice) but the LOGICAL plan must not carry a hint.
    q = E.queries()["p1_p2_j1_j2_dashboard_feed"](spark, SF)
    logical = q._jdf.queryExecution().logical().toString()
    assert "customer" not in [
        h for h in logical.splitlines() if "ResolvedHint" in h
    ], "forced broadcast hint on a fact-scaled table"


def test_semi_join_stays_semi(spark):
    plan = plan_of(E.queries()["j6_semi_join"](spark, SF))
    assert "LeftSemi" in plan


def test_tumbling_stats_partial_aggregation(spark):
    # A5/A6: hash aggregate must run partial (map-side) + final
    plan = plan_of(E.queries()["a5_a8_tumbling_stats"](spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_bucketed_join_has_no_shuffle(spark):
    """Co-located join: both sides bucketed on the join key -> the
    sort-merge join runs without an Exchange (the write-once,
    join-many pattern SCALE.md prescribes for fact-to-fact joins)."""
    from streaming_demos_spark.catalog import load_table, write_bucketed

    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    write_bucketed(orders.select("o_orderkey", "o_totalprice"), "b_orders",
                   ["o_orderkey"], num_buckets=4)
    write_bucketed(lineitem.select("l_orderkey", "l_quantity"), "b_lineitem",
                   ["l_orderkey"], num_buckets=4)
    try:
        # hint("merge") pins SMJ (at test scale AQE would broadcast the
        # tiny side; at fact-to-fact scale SMJ is what Catalyst picks)
        joined = spark.table("b_lineitem").hint("merge").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan  # buckets are already co-located
        assert joined.count() == lineitem.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_scan_prunes_buckets_and_join_skips_sort(spark):
    """The other two bucketing payoffs beyond shuffle elimination:
    (1) bucket PRUNING — an equality predicate on the bucket key scans
    one bucket, not the table (SelectedBucketsCount: 1 out of N);
    (2) sort-free SMJ — tables bucketed AND sorted on the join key
    (one file per bucket) join with neither an Exchange nor a Sort.
    At 100 TB this is the write-once/join-and-point-lookup-many layout:
    the sort is paid once at write time, never per query."""
    from streaming_demos_spark.catalog import load_table, write_bucketed

    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    # single input partition -> exactly one file per bucket, the
    # layout Spark requires to skip the per-query sort
    write_bucketed(
        orders.select("o_orderkey", "o_totalprice").coalesce(1),
        "bs_orders", ["o_orderkey"], num_buckets=4,
        sort_cols=["o_orderkey"],
    )
    write_bucketed(
        lineitem.select("l_orderkey", "l_quantity").coalesce(1),
        "bs_lineitem", ["l_orderkey"], num_buckets=4,
        sort_cols=["l_orderkey"],
    )
    try:
        # (1) bucket pruning on an equality probe. autoBucketedScan
        # rewrites a JOINLESS scan of a bucketed table as a plain file
        # scan (no distribution needed), which also discards the
        # pruning — turn it off to exercise the bucketed path.
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            "false",
        )
        try:
            key = orders.select("o_orderkey").limit(1).collect()[0][0]
            probe = spark.table("bs_orders").filter(
                F.col("o_orderkey") == key
            )
            plan = plan_of(probe)
            assert "SelectedBucketsCount: 1 out of 4" in plan
            assert probe.count() == 1
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "true",
            )

        # (2) exchange-free AND sort-free join on the bucket+sort key
        joined = spark.table("bs_lineitem").hint("merge").join(
            spark.table("bs_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        jplan = plan_of(joined)
        assert "SortMergeJoin" in jplan
        assert "Exchange" not in jplan
        assert "Sort [" not in jplan  # bucket files already sorted
        assert joined.count() == lineitem.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bs_orders")
        spark.sql("DROP TABLE IF EXISTS bs_lineitem")


def test_jdbc_scan_filter_reaches_remote(spark, tmp_path):
    from streaming_demos_spark.sources import jdbc as J

    db = str(tmp_path / "plandb")
    df = spark.range(10).select("id", (F.col("id") * 1.5).alias("v"))
    J.write_jdbc(df, J.derby_url(db), "T_PLAN", mode="overwrite", driver=J.DERBY_DRIVER)
    scan = J.read_jdbc(spark, J.derby_url(db, create=False), "T_PLAN", driver=J.DERBY_DRIVER)
    plan = plan_of(scan.filter(F.col("v") > 3.0))
    assert "PushedFilters" in plan and "GreaterThan(v,3.0)" in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned layout + a partition-column predicate must prune
    at PLANNING time: the scan's PartitionFilters carries the predicate
    and the non-matching directories never reach the reader."""
    from streaming_demos_spark.catalog import load_table, write_partitioned

    events = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    dst = str(tmp_path / "events_by_date")
    write_partitioned(events, dst, ["event_date"])

    read = spark.read.parquet(dst).filter(F.col("event_date") == "2024-01-01")
    plan = plan_of(read)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "event_date" in pf[0] and "2024-01-01" in pf[0]
    # and the filter really restricted the scan, not just the output
    n_dirs = len(
        [p for p in __import__("os").listdir(dst) if p.startswith("event_date=")]
    )
    assert n_dirs > 1  # the pruning claim is non-vacuous
    assert read.count() == events.filter(F.col("event_date") == "2024-01-01").count()


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """Small-file compaction: a fragmented write (64 files for a tiny
    table) compacts to the size-derived file count with identical data."""
    import os

    from streaming_demos_spark.catalog import compact_parquet, load_table

    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    orders = load_table(spark, SF, "orders")
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_before == 64

    n_files = compact_parquet(spark, frag, out, target_mb=128)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_files == n_after == 1  # tiny table -> one 128MB-target file
    assert (
        spark.read.parquet(out).orderBy("o_orderkey").collect()
        == orders.orderBy("o_orderkey").collect()
    )


def test_round3_batch_plans_have_no_cartesian_blowups(spark):
    """Session-batch regression guards: none of the new pair-generating
    queries may plan a CartesianProduct over row-scaled inputs (their
    only crossJoins are 1-row broadcast scalar aggregates)."""
    for key in [
        "ext_triangle_count",
        "llm_knn_label_noise",
        "mm_phash_neardup",
        "llm_minhash_lsh_eval",
        "llm_ngram_novelty",
    ]:
        plan = plan_of(E.queries()[key](spark, SF))
        assert "CartesianProduct" not in plan, key


def test_pmi_totals_are_explode_free(spark):
    """llm_pmi_collocations derives both totals from token-array sizes:
    at most three distinct Generate nodes may exist (unigram path,
    bigram path, and fan_out's row splitter) — never extra re-explodes
    for the totals (the pre-optimization form had four)."""
    import re

    plan = plan_of(E.queries()["llm_pmi_collocations"](spark, SF))
    gen_ids = set(re.findall(r"Generate \((\d+)\)", plan))
    assert len(gen_ids) <= 3, sorted(gen_ids)


def test_hybrid_rerank_caps_with_take_ordered(spark):
    plan = plan_of(E.queries()["llm_hybrid_rerank"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_winsorize_thresholds_ride_broadcast(spark):
    plan = plan_of(E.queries()["llm_winsorize"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_impute_mode_corpus_is_not_shuffled(spark):
    """The mode table joins back via broadcast — the events scan feeds
    the final join without an Exchange on the full corpus side."""
    plan = plan_of(E.queries()["ext_impute_mode"](spark, SF))
    assert "BroadcastHashJoin" in plan
