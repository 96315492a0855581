"""Keys named by the SURVEY.md §2 inventory ids they prove: projections
and predicates (``p*``), joins (``j*``), aggregates (``a*``), orderings
(``o*``), scalar and UDF surface (``f_*``), sources (``s1_*``), the
streaming analogs (``t*``), LinUCB (``a10``-``a12``) and the ranking
evaluation keys (``eval_*``). ``q1_pricing_summary`` is also the
flagship ``entry()`` query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.functions import sqlfrag
from streaming_demos_spark.functions.scalars import bucket_time_of_day, round_dp, title_case
from streaming_demos_spark.operators import relational as R
from streaming_demos_spark.queries import generated, key, values_sql


@key("q1_pricing_summary", oracle="""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2)                                        AS sum_qty,
                   round(sum(l_extendedprice), 2)                                   AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
                   round(avg(l_quantity), 4)                                        AS avg_qty,
                   round(avg(l_extendedprice), 4)                                   AS avg_price,
                   round(avg(l_discount), 6)                                        AS avg_disc,
                   count(*)                                                         AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """)
def q_pricing_summary(spark, sf_dir):
    return R.pricing_summary(_t(spark, sf_dir, "lineitem"))


@key("p1_p2_j1_j2_dashboard_feed", oracle="""
            SELECT c_custkey AS user_id, c_name AS user_name, c_mktsegment AS segment,
                   c_nationkey AS nation_id, o_orderkey AS order_id,
                   o_orderstatus AS order_status, o_orderdate AS created_at,
                   l_partkey AS item_id, p_name AS item_name, p_type AS category,
                   p_retailprice AS cost,
                   l_extendedprice * (1 - l_discount) AS sale_price
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN part     ON l_partkey = p_partkey
            WHERE o_orderdate >= (SELECT max(o_orderdate) FROM orders)
                                 - INTERVAL '43200 minutes'
        """)
def q_dashboard_feed(spark, sf_dir):
    # P1 projection/alias + P2 time predicate + J1/J2 joins (api.py:37-58).
    return R.dashboard_feed(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        lookback_minutes=43200,  # 30 days against max(o_orderdate)
    )


def _feed(spark, sf_dir):
    return R.dashboard_feed(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


@key("a1_a2_a9_dashboard_metrics", oracle="""
            SELECT count(DISTINCT o_orderkey)                          AS n_orders,
                   count(DISTINCT l_partkey)                           AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)   AS total_revenue,
                   round(avg(l_extendedprice * (1 - l_discount)), 4)   AS avg_sale_price
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN part     ON l_partkey = p_partkey
        """)
def q_dashboard_metrics(spark, sf_dir):
    # A1 distinct counts + A2 sum/round + A9 mean (streamlit/utils.py:25-29).
    return R.metrics_summary(_feed(spark, sf_dir))


def _revenue_by_custkey(spark, sf_dir):
    # Shared partial aggregate for the A3 queries: revenue collapses to
    # one row per customer BELOW the dim joins, so the customer/nation
    # joins see |customers| rows instead of |lineitem| wide rows. The
    # part join of the full feed is dropped here: it is a no-op for
    # revenue under the star schema's FK integrity (every l_partkey
    # resolves; verified on the test data) and contributes no columns.
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev")
        )
    )


@key("a3_o1_grouped_revenue_nation", oracle="""
            SELECT n_name AS nation,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN part     ON l_partkey = p_partkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC, nation ASC
        """)
def q_grouped_revenue_nation(spark, sf_dir):
    # A3 grouped revenue + O1 sort desc, by nation name (utils.py:92-104).
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    per_cust = _revenue_by_custkey(spark, sf_dir)
    return (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum("_rev"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


@key("a3_grouped_revenue_segment", oracle="""
            SELECT c_mktsegment AS segment,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN part     ON l_partkey = p_partkey
            GROUP BY c_mktsegment
            ORDER BY revenue DESC, segment ASC
        """)
def q_grouped_revenue_segment(spark, sf_dir):
    # A3 second grouping axis (traffic_source analog), same partial-
    # aggregate-below-the-join shape.
    customer = _t(spark, sf_dir, "customer")
    per_cust = _revenue_by_custkey(spark, sf_dir)
    return (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.round(F.sum("_rev"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("segment"))
    )


@key("a4_metric_deltas", oracle="""
            WITH daily AS (
                SELECT date_trunc('day', CAST(ts AS TIMESTAMP))::DATE AS day,
                       event_type,
                       round(sum(value), 2) AS value
                FROM events GROUP BY 1, 2
            )
            SELECT strftime(day, '%Y-%m-%d') AS day, event_type, value,
                   round(value - lag(value) OVER (PARTITION BY event_type ORDER BY day), 2) AS delta
            FROM daily
        """)
def q_metric_deltas(spark, sf_dir):
    # A4 metric delta vs previous tick, as lag() over daily ticks.
    # to_date, not date_trunc: date_trunc returns a session-tz
    # TIMESTAMP, which shifts under a non-UTC harness.
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        # date STRING, not DATE: raw DATE renders asymmetrically
        # through a pandas comparator bridge (datetime.date vs
        # midnight datetime64); 'yyyy-MM-dd' strings order identically
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.round(F.sum("value"), 2).alias("value"))
    return R.metric_deltas(daily, "day", "event_type", "value")


@key("a5_a8_tumbling_stats", oracle="""
            SELECT strftime(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
                            '%Y-%m-%d %H:%M:%S')                                    AS window_start,
                   strftime(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                            + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S')            AS window_end,
                   event_type,
                   round(sum(value), 2) AS total_value,
                   count(*) AS cnt
            FROM events
            GROUP BY 1, 2, 3
        """)
def q_tumbling_stats(spark, sf_dir):
    # A5-A8 tumbling window agg + window-bound formatting (batch analog
    # of supplier stats; streaming form in streaming/supplier_stats.py).
    return R.tumbling_stats(
        _t(spark, sf_dir, "events"), "ts", "event_type", "value", "5 minutes"
    )


@key("o2_top5_parts", oracle="""
            SELECT l_partkey AS part_id,
                   any_value(p_name) AS part_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY l_partkey
            ORDER BY revenue DESC, part_id ASC
            LIMIT 5
        """)
def q_top5_parts(spark, sf_dir):
    # O2 top-k by score desc (rounded score + unique tie-break).
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (
        lineitem.groupBy("l_partkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(F.col("l_partkey").alias("part_id"), F.col("p_name").alias("part_name"), "revenue")
    )
    return R.top_k(rev, "revenue", 5, tie_col="part_id")


@key("o2_top3_parts_per_brand", oracle="""
            WITH rev AS (
                SELECT p_brand, l_partkey AS part_id,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY p_brand, l_partkey
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY p_brand
                                             ORDER BY revenue DESC, part_id ASC) AS rnk
                FROM rev
            )
            SELECT p_brand, part_id, revenue FROM ranked WHERE rnk <= 3
        """)
def q_top3_parts_per_brand(spark, sf_dir):
    # O2 per-group top-k via ranked window.
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("p_brand", F.col("l_partkey").alias("part_id"), "revenue")
    )
    return R.top_k_per_group(rev, "p_brand", "revenue", 3, tie_col="part_id")


@key("o4_time_split", oracle="""
            WITH ranked AS (
                SELECT value,
                       row_number() OVER (ORDER BY event_id) AS rn,
                       count(*) OVER () AS total
                FROM events
            )
            SELECT CASE WHEN rn <= CAST(floor(0.8 * total) AS BIGINT)
                        THEN 'train' ELSE 'test' END AS split,
                   count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM ranked
            GROUP BY 1
            ORDER BY 1
        """)
def q_time_split(spark, sf_dir):
    # O4 time-ordered 80/20 split, summarized per split.
    events = _t(spark, sf_dir, "events")
    split = R.time_ordered_split(events, "event_id", 0.8)
    return (
        split.groupBy("split")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("split")
    )


@key("p2_time_filter", oracle="""
            SELECT event_id, user_id, event_type, value
            FROM events
            WHERE CAST(ts AS TIMESTAMP) >=
                  (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL '7 days'
        """)
def q_time_filter(spark, sf_dir):
    # P2 time-range predicate anchored at max(ts) - 7 days. The anchor is
    # a broadcast 1-row aggregate cross-joined into the plan (one job; no
    # driver-side collect, no second scan submission).
    events = _t(spark, sf_dir, "events")
    anchor = events.agg(F.max("ts").alias("_anchor"))
    return (
        events.crossJoin(F.broadcast(anchor))
        .filter(F.col("ts") >= F.col("_anchor") - F.expr("INTERVAL 7 DAYS"))
        .select("event_id", "user_id", "event_type", "value")
    )


@key("f_json_extract", oracle="""
            SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   coalesce(CAST(json_extract_string(props, '$.missing') AS BIGINT), -1)
                       AS missing_val,
                   count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM events
            GROUP BY 1, 2
        """)
def q_json_extract(spark, sf_dir):
    # §2.8 JSON scalar surface + P10 null-safe defaults: parse props,
    # group by extracted key; a missing path coalesces to a default.
    events = _t(spark, sf_dir, "events")
    return (
        events.select(
            F.get_json_object("props", "$.k").cast("long").alias("k"),
            F.coalesce(
                F.get_json_object("props", "$.missing").cast("long"), F.lit(-1)
            ).alias("missing_val"),
            "value",
        )
        .groupBy("k", "missing_val")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@key("f_scalar_strings", oracle="""
            -- DuckDB 1.0 has no initcap(); emulate it per word
            -- (capitalize first letter, lowercase the rest).
            SELECT p_partkey AS part_id,
                   array_to_string(
                       list_transform(
                           string_split(replace(p_type, '_', ' '), ' '),
                           w -> CASE WHEN len(w) = 0 THEN w
                                     ELSE upper(w[1]) || lower(w[2:]) END
                       ), ' ') AS type_title,
                   '/product/' || regexp_replace(lower(p_name), '\\s+', '', 'g') AS uri,
                   length(p_name) AS name_len
            FROM part
        """)
def q_scalar_strings(spark, sf_dir):
    # §2.8 string functions: initcap-title, lower+regexp URI templating.
    part = _t(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("part_id"),
        title_case("p_type").alias("type_title"),
        F.concat(F.lit("/product/"), F.regexp_replace(F.lower("p_name"), r"\s+", "")).alias(
            "uri"
        ),
        F.length("p_name").alias("name_len"),
    )


@key("f_datetime_buckets", oracle="""
            SELECT event_id,
                   hour(CAST(ts AS TIMESTAMP)) AS hr,
                   CAST(hour(CAST(ts AS TIMESTAMP)) BETWEEN 6 AND 11 AS INT)  AS is_morning,
                   CAST(hour(CAST(ts AS TIMESTAMP)) BETWEEN 12 AND 17 AS INT) AS is_afternoon,
                   CAST(hour(CAST(ts AS TIMESTAMP)) >= 18
                        OR hour(CAST(ts AS TIMESTAMP)) < 6 AS INT)            AS is_evening,
                   CAST(dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6) AS INT)    AS is_weekend,
                   CAST(dayofweek(CAST(ts AS TIMESTAMP)) BETWEEN 1 AND 5 AS INT) AS is_weekday
            FROM events
        """)
def q_datetime_buckets(spark, sf_dir):
    # §2.8 date/time bucketing (bandit_simulator.py:36-47 semantics).
    events = _t(spark, sf_dir, "events")
    b = bucket_time_of_day("ts")
    return events.select(
        "event_id",
        F.hour("ts").alias("hr"),
        b["is_morning"].alias("is_morning"),
        b["is_afternoon"].alias("is_afternoon"),
        b["is_evening"].alias("is_evening"),
        b["is_weekend"].alias("is_weekend"),
        b["is_weekday"].alias("is_weekday"),
    )


@key("f_conditional_status", oracle="""
            SELECT CASE o_orderstatus
                       WHEN 'O' THEN 'open'
                       WHEN 'F' THEN 'fulfilled'
                       WHEN 'P' THEN 'pending'
                       ELSE 'unknown' END AS status_bucket,
                   count(*) AS n,
                   round(avg(o_totalprice), 4) AS avg_price
            FROM orders
            GROUP BY 1
        """)
def q_conditional_status(spark, sf_dir):
    # §2.8 conditional when/otherwise chain (models.py:171-198 shape).
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.when(F.col("o_orderstatus") == "O", "open")
            .when(F.col("o_orderstatus") == "F", "fulfilled")
            .when(F.col("o_orderstatus") == "P", "pending")
            .otherwise("unknown")
            .alias("status_bucket"),
            "o_totalprice",
        )
        .groupBy("status_bucket")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
    )


@key("a13_weighted_distribution", oracle="""
            WITH counts AS (
                SELECT n_name AS nation, CAST(count(*) AS DOUBLE) AS pop
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                GROUP BY n_name
            )
            SELECT nation,
                   round(pop, 2) AS weight,
                   round(pop / (SELECT sum(pop) FROM counts), 6) AS proportion
            FROM counts
            ORDER BY weight DESC, nation ASC
        """)
def q_weighted_distribution(spark, sf_dir):
    # A13 population-weighted distribution (location_generator.py:95-145).
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select(F.col("n_name").alias("nation"), F.col("c_acctbal").alias("w"))
    # weight = customer count (population analog)
    counts = joined.groupBy("nation").agg(F.count("*").cast("double").alias("pop"))
    return R.weighted_distribution(counts, "nation", "pop")


@key("j6_semi_join", oracle="""
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_mktsegment
        """)
def q_semi_join(spark, sf_dir):
    # J6 extension: customers with >=1 order (left semi).
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@key("j6_anti_join", oracle="""
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """)
def q_anti_join(spark, sf_dir):
    # J6 extension: customers with no orders (left anti).
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@key("t6_late_tagging", oracle="""
            WITH e AS (
                SELECT event_id, event_type,
                       CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep,
                       event_id * 2 + (event_id * 1103515245 + 12345) % 13 - 6 AS seq
                FROM events
            )
            SELECT event_id, event_type,
                   (ep // 300 + 1) * 300 AS window_end_epoch,
                   coalesce(
                     max(ep) OVER (PARTITION BY event_type ORDER BY seq
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     > (ep // 300 + 1) * 300 + 600,
                     false) AS is_late
            FROM e
        """)
def q_late_tagging(spark, sf_dir):
    # T6 late-record detection (LateRecordProcessor.kt:46-64 arithmetic):
    # per-shard stream time = running max event time over arrival order;
    # late ⇔ stream_time > window_end + grace, window_end =
    # (floor(ts/size)+1)*size. Batch-checkable form of the streaming
    # stateful tagger (streaming/supplier_stats.py): shard=event_type,
    # arrival order=event_id, window=300s, grace=600s.
    from streaming_demos_spark.streaming import supplier_stats as SS

    # events.parquet is time-ordered by event_id, which would make every
    # row on-time; a deterministic LCG over the id simulates an
    # out-of-order arrival sequence (the Kafka-offset analog) so the
    # tagger produces real late rows.
    events = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("ts").alias("event_time"),
        (F.col("event_id") * 2
         + (F.col("event_id") * 1103515245 + 12345) % 13 - 6).alias("seq"),
    )
    tagged = SS.tag_late_batch(
        events, "event_type", "seq", window_sec=300, grace_sec=600
    )
    return tagged.select(
        "event_id",
        "event_type",
        SS.window_end_expr(F.col("event_time"), 300).alias("window_end_epoch"),
        "is_late",
    )


@key("s1_s8_csv_declared_schema", oracle="""
            -- the two malformed lines are dropped; clean rows survive
            -- the CSV round trip with their declared types intact
            SELECT p_partkey, p_name, p_size, p_retailprice FROM part
        """)
def q_csv_declared_schema(spark, sf_dir):
    # S1/S8: declared-schema CSV parsing with drop-bad-rows policy. The
    # part table round-trips through CSV text lines; two malformed lines
    # are injected and must be dropped by the corrupt-record filter.
    from streaming_demos_spark.sources import files as FS

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_size", "p_retailprice"
    )
    lines = part.select(FS.to_csv_line(part).alias("line"))
    bad = spark.createDataFrame(
        [("not,enough",), ("x,y,z,w",)], ["line"]
    )
    parsed = FS.parse_csv_lines(
        lines.unionByName(bad),
        "line",
        part.schema,
        bad_rows="drop",
    )
    return parsed


@key("p3_o3_limit_probe", oracle="""
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders ORDER BY o_orderkey LIMIT 1
        """)
def q_limit_probe(spark, sf_dir):
    # P3/O3: LIMIT-1 probe with a deterministic order (api.py:57-58).
    return (
        _t(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@key("p5_p6_drop_columns", oracle="""
            SELECT doc_id, lang, source, n_chars FROM documents
        """)
def q_drop_columns(spark, sf_dir):
    # P5/P6: drop extraneous/PII columns (text is the payload analog).
    return _t(spark, sf_dir, "documents").drop("text")


@key("p7_numeric_projection", oracle="""
            SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
                   l_quantity, l_extendedprice, l_discount, l_tax
            FROM lineitem
        """)
def q_numeric_projection(spark, sf_dir):
    # P7: numeric-dtype projection of the fact table.
    return R.numeric_projection(_t(spark, sf_dir, "lineitem"))


@key("j4_zip_join", oracle="""
            WITH a AS (
                SELECT n_nationkey, n_name,
                       row_number() OVER (ORDER BY n_nationkey) AS rn
                FROM nation
            ),
            b AS (
                SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS rn
                FROM region
            )
            SELECT n_nationkey, n_name, r_name FROM a JOIN b USING (rn)
        """)
def q_zip_join(spark, sf_dir):
    # J4: positional zip of two ordered dim frames (pd.concat axis=1).
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return R.zip_join(nation, region, "n_nationkey", "r_regionkey").select(
        "n_nationkey", "n_name", "r_name"
    )


@key("f_array_vector", oracle="""
            SELECT l_orderkey, l_linenumber,
                   len([l_quantity, l_extendedprice, l_discount, l_tax]) AS vec_len,
                   [l_quantity, l_extendedprice, l_discount, l_tax][2] AS elem2,
                   round(l_quantity + l_extendedprice, 4) AS head2_sum
            FROM lineitem
        """)
def q_array_vector(spark, sf_dir):
    # §2.8 array surface: build a vector from columns, slice,
    # element_at, aggregate-sum (eda_recommender.py:98-101 vector build).
    li = _t(spark, sf_dir, "lineitem")
    vec = F.array("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.size(vec).alias("vec_len"),
        F.element_at(vec, 2).alias("elem2"),
        F.round(
            F.aggregate(F.slice(vec, 1, 2), F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("head2_sum"),
    )


@key("f_struct_json", oracle="""
            SELECT o_orderkey AS key,
                   json_object('order_id', o_orderkey,
                               'status', o_orderstatus,
                               'late', true)::VARCHAR AS value
            FROM orders
        """)
def q_struct_json(spark, sf_dir):
    # §2.8 map/struct + JSON serialize + T8 late-tag shape: build a
    # struct, add late=true, emit JSON keyed by order id
    # (StreamsApp.kt:115-128).
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("key"),
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("order_id"),
                F.col("o_orderstatus").alias("status"),
                F.lit(True).alias("late"),
            )
        ).alias("value"),
    )


@key("f_ground_truth_score", oracle="""
            WITH f AS (
                SELECT event_id,
                       CAST(hour(CAST(ts AS TIMESTAMP)) BETWEEN 6 AND 11 AS INT)  AS morning,
                       CAST(dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6) AS INT)    AS weekend,
                       CAST(hour(CAST(ts AS TIMESTAMP)) >= 18
                            OR hour(CAST(ts AS TIMESTAMP)) < 6 AS INT)            AS evening,
                       CAST(event_type = 'click' AS INT)    AS clk,
                       CAST(event_type = 'purchase' AS INT) AS pur,
                       CAST(event_type = 'error' AS INT)    AS err,
                       CAST(event_type = 'view' AS INT)     AS vw
                FROM events
            )
            SELECT event_id,
                   round(1.0 / (1.0 + exp(-(
                       -1.0 + 2.5*(morning*clk) + 1.8*(weekend*pur)
                       - 3.0*(evening*err) + 0.5*vw))), 6) AS p_click
            FROM f
        """)
def q_ground_truth_score(spark, sf_dir):
    # §2.8 ground-truth scoring formula (bandit_simulator.py:56-87):
    # rule-based logit over time-of-day/type interactions -> sigmoid.
    from streaming_demos_spark.functions.scalars import sigmoid

    events = _t(spark, sf_dir, "events")
    b = bucket_time_of_day("ts")
    is_click = (F.col("event_type") == "click").cast("int")
    is_purchase = (F.col("event_type") == "purchase").cast("int")
    is_error = (F.col("event_type") == "error").cast("int")
    logit = (
        F.lit(-1.0)
        + 2.5 * (b["is_morning"] * is_click)
        + 1.8 * (b["is_weekend"] * is_purchase)
        - 3.0 * (b["is_evening"] * is_error)
        + 0.5 * (F.col("event_type") == "view").cast("int")
    )
    return events.select(
        "event_id", F.round(sigmoid(logit), 6).alias("p_click")
    )


@key("f_status_timestamps", oracle="""
            -- status mapping: F->Complete (shipped+delivered),
            -- O->Shipped (shipped only), else Processing (all NULL);
            -- offsets +1d shipped, +3d delivered, +7d returned
            SELECT o_orderkey,
                   CASE WHEN o_orderstatus IN ('F','O')
                        THEN o_orderdate + INTERVAL 1 DAY END AS shipped_at,
                   CASE WHEN o_orderstatus = 'F'
                        THEN o_orderdate + INTERVAL 3 DAY END AS delivered_at,
                   CAST(NULL AS TIMESTAMP) AS returned_at
            FROM orders
        """)
def q_status_timestamps(spark, sf_dir):
    # §2.8 conditional lifecycle timestamps (models.py:171-198): status
    # chains set shipped/delivered/returned or NULL, fixed offsets.
    from streaming_demos_spark.functions.scalars import status_timestamps

    orders = _t(spark, sf_dir, "orders")
    status = (
        F.when(F.col("o_orderstatus") == "F", "Complete")
        .when(F.col("o_orderstatus") == "O", "Shipped")
        .otherwise("Processing")
    )
    ts = status_timestamps(status, F.col("o_orderdate"))
    return orders.select(
        "o_orderkey",
        ts["shipped_at"].alias("shipped_at"),
        ts["delivered_at"].alias("delivered_at"),
        ts["returned_at"].alias("returned_at"),
    )


LINUCB_D = 2
LINUCB_X0 = [1.0, 0.5]


def _feedback(spark, sf_dir):
    # Deterministic feedback log derived from events: 20 products,
    # context [1, value/100 capped], reward = click/purchase.
    events = _t(spark, sf_dir, "events")
    return events.select(
        (F.col("user_id") % 20).alias("product_id"),
        F.array(
            F.lit(1.0), F.least(F.col("value"), F.lit(100.0)) / 100.0
        ).alias("context_vector"),
        F.when(F.col("event_type").isin("click", "purchase"), 1.0)
        .otherwise(0.0)
        .alias("reward"),
    )


def _models(spark, sf_dir):
    from streaming_demos_spark.operators import linucb as LU

    return LU.fit_batch(_feedback(spark, sf_dir), d=LINUCB_D, lam=1.0)


@key("a10_j3_linucb_fit", oracle="""
            -- literals cast to DOUBLE: DuckDB's 1.0 is DECIMAL and the
            -- decimal sums would come back as Decimal, not float.
            WITH fb AS (
                SELECT user_id % 20 AS product_id,
                       CAST(1.0 AS DOUBLE) AS x1,
                       least(value, 100.0) / 100.0 AS x2,
                       CAST(CASE WHEN event_type IN ('click','purchase')
                            THEN 1.0 ELSE 0.0 END AS DOUBLE) AS r
                FROM events
            ),
            agg AS (
                SELECT product_id,
                       1 + sum(x1*x1) AS a11, sum(x1*x2) AS a12,
                       1 + sum(x2*x2) AS a22,
                       sum(r*x1) AS b1, sum(r*x2) AS b2
                FROM fb GROUP BY 1
            ),
            inv AS (
                SELECT *, a11*a22 - a12*a12 AS det FROM agg
            )
            SELECT product_id,
                   round(a22/det, 6)  AS inv11,
                   round(-a12/det, 6) AS inv12,
                   round(a11/det, 6)  AS inv22,
                   round(b1, 6) AS b1, round(b2, 6) AS b2,
                   round((a22*b1 - a12*b2)/det, 6)  AS theta1,
                   round((-a12*b1 + a11*b2)/det, 6) AS theta2
            FROM inv
        """)
def q_linucb_fit(spark, sf_dir):
    # A10/J3 batch fit as ONE grouped JVM aggregate of the sums, numpy
    # inverting only the aggregated rows; at d=2 the inverse has a
    # closed form, so the oracle recomputes A⁻¹ and θ = A⁻¹b exactly in
    # SQL. inv12 = -a12/det is negative: round_dp keeps DuckDB's -0.0.
    m = _models(spark, sf_dir)
    inv11, inv12, inv22 = (
        F.col("a_inv")[0][0], F.col("a_inv")[0][1], F.col("a_inv")[1][1]
    )
    b1, b2 = F.col("b")[0], F.col("b")[1]
    return m.select(
        "product_id",
        round_dp(inv11, 6).alias("inv11"),
        round_dp(inv12, 6).alias("inv12"),
        round_dp(inv22, 6).alias("inv22"),
        round_dp(b1, 6).alias("b1"),
        round_dp(b2, 6).alias("b2"),
        round_dp(inv11 * b1 + inv12 * b2, 6).alias("theta1"),
        round_dp(inv12 * b1 + inv22 * b2, 6).alias("theta2"),
    )


@key("a12_linucb_score_top5", oracle="""
            WITH fb AS (
                SELECT user_id % 20 AS product_id,
                       CAST(1.0 AS DOUBLE) AS x1,
                       least(value, 100.0) / 100.0 AS x2,
                       CAST(CASE WHEN event_type IN ('click','purchase')
                            THEN 1.0 ELSE 0.0 END AS DOUBLE) AS r
                FROM events
            ),
            agg AS (
                SELECT product_id,
                       1 + sum(x1*x1) AS a11, sum(x1*x2) AS a12,
                       1 + sum(x2*x2) AS a22,
                       sum(r*x1) AS b1, sum(r*x2) AS b2
                FROM fb GROUP BY 1
            ),
            inv AS (
                SELECT *, a11*a22 - a12*a12 AS det FROM agg
            ),
            m AS (
                SELECT product_id,
                       a22/det AS inv11, -a12/det AS inv12, a11/det AS inv22,
                       (a22*b1 - a12*b2)/det  AS theta1,
                       (-a12*b1 + a11*b2)/det AS theta2
                FROM inv
            )
            -- x = [1.0, 0.5], alpha = 1:
            -- s = theta1 + 0.5*theta2 + sqrt(inv11 + inv12 + 0.25*inv22)
            SELECT product_id,
                   round(theta1 + 0.5*theta2
                         + sqrt(inv11 + inv12 + 0.25*inv22), 6) AS score
            FROM m
            ORDER BY score DESC, product_id ASC
            LIMIT 5
        """)
def q_linucb_score_top5(spark, sf_dir):
    # A12/O2 serve-time scoring: θ = A⁻¹b, s = x·θ + α√(xᵀA⁻¹x), top-5
    # (one SQL expression over the model table).
    from streaming_demos_spark.operators import linucb as LU

    return LU.recommend_top_k(_models(spark, sf_dir), x=LINUCB_X0, alpha=1.0, k=5)


_FEAT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@key("f_feature_engineering", oracle="""
            WITH mm AS (
                SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM customer
            )
            SELECT c_custkey,
                   CAST(c_mktsegment = 'AUTOMOBILE' AS INT) AS seg_automobile,
                   CAST(c_mktsegment = 'BUILDING'   AS INT) AS seg_building,
                   CAST(c_mktsegment = 'FURNITURE'  AS INT) AS seg_furniture,
                   CAST(c_mktsegment = 'HOUSEHOLD'  AS INT) AS seg_household,
                   CAST(c_mktsegment = 'MACHINERY'  AS INT) AS seg_machinery,
                   round(CASE WHEN hi - lo <> 0
                              THEN (c_acctbal - lo) / (hi - lo) ELSE 0.0 END, 6)
                       AS acctbal_scaled,
                   CAST(c_mktsegment IN ('AUTOMOBILE','MACHINERY') AS INT)
                       AS is_industrial
            FROM customer, mm
        """)
def q_feature_engineering(spark, sf_dir):
    # §2.10 feature pipeline: one-hot (declared categories), global
    # min-max scaling via broadcast aggregate, membership flag.
    from streaming_demos_spark.functions import features as FE

    cust = _t(spark, sf_dir, "customer")
    cust = FE.one_hot(cust, "c_mktsegment", _FEAT_SEGMENTS, prefix="seg")
    cust = FE.min_max_scale(cust, ["c_acctbal"])
    cust = FE.flag_in(cust, "c_mktsegment", ["AUTOMOBILE", "MACHINERY"], "is_industrial")
    return cust.select(
        "c_custkey",
        *[f"seg_{s.lower()}" for s in _FEAT_SEGMENTS],
        F.round("c_acctbal_scaled", 6).alias("acctbal_scaled"),
        "is_industrial",
    )


def _scored_log(spark, sf_dir):
    # Deterministic interaction log for the offline-eval surface
    # (evaluate.py:31-124 shape): user = custkey, item = orderkey
    # (unique -> total rank order), score = 6-dp function of the price,
    # label = order fulfilled. Both engines compute it identically.
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderkey").alias("product_id"),
        F.round((F.col("o_totalprice") % 1000.0) / 1000.0, 6).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("reward"),
    )


@key("eval_ranking_metrics", oracle="""
            WITH log AS (
                SELECT o_custkey AS user_id, o_orderkey AS product_id,
                       round((o_totalprice % 1000.0) / 1000.0, 6) AS score,
                       CAST(o_orderstatus = 'F' AS INT) AS reward
                FROM orders
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY score DESC, product_id
                ) AS rnk
                FROM log
            ),
            per_user AS (
                SELECT user_id,
                       sum(CASE WHEN rnk <= 5 THEN reward ELSE 0 END) AS hits,
                       sum(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END) AS recs,
                       sum(reward) AS positives
                FROM ranked GROUP BY user_id
            )
            SELECT round(sum(hits)::DOUBLE / sum(recs), 6) AS ctr_at_k,
                   round(avg(hits::DOUBLE / recs), 6) AS precision_at_k,
                   round(avg(CASE WHEN positives > 0
                             THEN hits::DOUBLE / positives END), 6) AS recall_at_k
            FROM per_user
        """)
def q_eval_ranking(spark, sf_dir):
    # §2.10 offline eval: CTR@5 / Precision@5 / Recall@5 as DataFrame
    # aggregates over the per-user ranking window (evaluate.py:57-108).
    from streaming_demos_spark.operators import linucb as LU

    return LU.eval_ranking(_scored_log(spark, sf_dir), k=5)


@key("eval_auc", oracle="""
            WITH log AS (
                SELECT round((o_totalprice % 1000.0) / 1000.0, 6) AS score,
                       CAST(o_orderstatus = 'F' AS INT) AS reward
                FROM orders
            ),
            per_score AS (
                SELECT score, count(*) AS cnt, sum(reward)::DOUBLE AS pos
                FROM log GROUP BY score
            ),
            ranked AS (
                SELECT *,
                       coalesce(sum(cnt) OVER (
                           ORDER BY score
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) + (cnt + 1.0) / 2.0 AS avg_rank
                FROM per_score
            )
            SELECT round(
                (sum(pos * avg_rank) - sum(pos) * (sum(pos) + 1.0) / 2.0)
                / (sum(pos) * (sum(cnt) - sum(pos))), 6) AS auc
            FROM ranked
        """)
def q_eval_auc(spark, sf_dir):
    # §2.10 offline eval: exact ROC-AUC via the Mann-Whitney rank
    # statistic, computed over per-distinct-score aggregates (the
    # un-partitioned window runs on the score-cardinality frame, not
    # the log).
    from streaming_demos_spark.operators import linucb as LU

    log = _scored_log(spark, sf_dir)
    return LU.auc(log, "score", "reward")


@key("eval_ndcg", oracle="""
            WITH log AS (
                SELECT o_custkey AS user_id, o_orderkey AS product_id,
                       round((o_totalprice % 1000.0) / 1000.0, 6) AS score,
                       CAST(o_orderstatus = 'F' AS INT) AS reward
                FROM orders
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY score DESC, product_id
                ) AS rnk
                FROM log
            ),
            per_user AS (
                SELECT user_id,
                       sum(CASE WHEN rnk <= 5 THEN reward * (CASE rnk
                               WHEN 1 THEN 1.0::DOUBLE
                               WHEN 2 THEN 0.630929753571::DOUBLE
                               WHEN 3 THEN 0.5::DOUBLE
                               WHEN 4 THEN 0.430676558073::DOUBLE
                               WHEN 5 THEN 0.386852807235::DOUBLE END)
                           ELSE 0.0::DOUBLE END) AS dcg,
                       sum(reward) AS positives
                FROM ranked GROUP BY user_id
            )
            SELECT round(avg(dcg / (CASE least(positives, 5)
                       WHEN 1 THEN 1.0::DOUBLE
                       WHEN 2 THEN 1.630929753571::DOUBLE
                       WHEN 3 THEN 2.130929753571::DOUBLE
                       WHEN 4 THEN 2.561606311644::DOUBLE
                       WHEN 5 THEN 2.948459118879::DOUBLE END)), 6) AS ndcg_at_k
            FROM per_user WHERE positives > 0
        """)
def q_eval_ndcg(spark, sf_dir):
    # §2.10 offline eval: NDCG@5 with driver-precomputed discount
    # literals (identical constants in plan and oracle — JVM vs C log2
    # can differ in the last ulp).
    from streaming_demos_spark.operators import linucb as LU

    return LU.ndcg_at_k(_scored_log(spark, sf_dir), k=5)


@key("f_tfidf_top_terms", oracle="""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(lower(text), '[^a-z0-9]+'),
                           t -> t != '')) AS term
                FROM documents
            ),
            tf AS (
                SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
            ),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
                SELECT doc_id, term, tf, df,
                       round(tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 9)
                           AS tfidf
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term
                ) AS rn
                FROM scored
            )
            SELECT doc_id, term, tf, df, tfidf FROM ranked WHERE rn <= 3
        """)
def q_tfidf_top_terms(spark, sf_dir):
    # §2.10 TF-IDF (preprocessor.py:94-97's vectorizer half) as pure
    # DataFrame algebra: explode -> tf -> df -> smooth-idf join; top-3
    # terms per doc by rounded score with a term tie-break.
    from pyspark.sql import Window

    from streaming_demos_spark.functions import tfidf as TI

    docs = _t(spark, sf_dir, "documents")
    scored = TI.tfidf(docs, "doc_id", "text")
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


@generated
def _svd_embed_oracle(con, sf):
    """Independent numpy reference for f_svd_embed: hashed tf-idf
    (dim 64) -> top-8 SVD projection, as a VALUES table.

    Eigendecomposition is not SQL-expressible, so this oracle (like
    those of llm_word_vectors and llm_whiten_embeddings) is a genuine
    *independent second implementation*: pure Python/numpy
    (functions/numpy_ref.py — its own tokenizer, its own bit-exact
    XXH64, exact integer counting, single-matmul gram) reading the same
    parquet via DuckDB, materialized as a VALUES table for the driver's
    hash compare. Both engines share only the published determinism
    conventions (component grid + sign, see tfidf.svd_components), so a
    hash match certifies the distributed pipeline end-to-end against a
    single-node reference — the differential-testing analog of the
    numpy parity tests, made driver-checkable.
    """
    import numpy as np

    from streaming_demos_spark.functions import numpy_ref as NR
    from streaming_demos_spark.functions.tfidf import svd_components

    def project_rows(ids, vecs, V):
        # mirror the Spark chain exactly: numpy round(9) inside the
        # projection UDF, then JVM-HALF_UP F.round(6) in the query.
        rows = []
        for i in ids:
            e = np.round(vecs[i] @ V, 9)
            rows.extend(
                (i, j, NR.jvm_round(e[j], 6)) for j in range(V.shape[1])
            )
        return rows

    docs = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')"
        " ORDER BY doc_id"
    ).fetchall()
    ids = [r[0] for r in docs]
    texts = [r[1] for r in docs]
    tv = NR.hashed_tfidf_vectors(ids, texts, dim=64)
    X = np.stack([tv[i] for i in ids])
    V = svd_components(X.T @ X, 8)
    return values_sql(
        project_rows(ids, tv, V),
        "BIGINT",
        ("doc_id", "component_idx", "value"),
    )


@key("f_svd_embed", oracle=_svd_embed_oracle)
def q_svd_embed(spark, sf_dir):
    # §2.10 truncated SVD (preprocessor.py:94-97's 10-component half):
    # hashed tf-idf vectors -> distributed gram matrix -> driver-side
    # eigh of the small D×D -> map-only projection. Hash-verified
    # against an independent numpy implementation (functions/
    # numpy_ref.py) via a VALUES-table oracle: the component-grid snap
    # in tfidf.svd_components makes both engines project against the
    # bit-identical V, and the 6-dp output round absorbs matmul-blocking
    # ulps. The embedding is unnested to scalar (doc_id, component_idx,
    # value) rows so the checker's canonical sort works.
    from streaming_demos_spark.functions import tfidf as TI

    docs = _t(spark, sf_dir, "documents")
    vecs = TI.hashed_tfidf_vectors(docs, "doc_id", "text", dim=64)
    emb = TI.svd_embed(vecs, k=8, id_col="doc_id")
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("component_idx", "_v")
    ).select(
        "doc_id",
        "component_idx",
        F.round(F.col("_v"), 6).alias("value"),
    )


@key("p4_split_by_predicate", oracle="""
            SELECT CASE WHEN event_type = 'error' THEN 'error' ELSE 'ok' END
                       AS branch,
                   count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY 1
        """)
def q_split_by_predicate(spark, sf_dir):
    # P4 stream/table branch split (StreamsApp.kt:100-113): both
    # branches of one predicate, tagged and re-unioned; the per-branch
    # aggregate proves the split partitions the input exactly.
    events = _t(spark, sf_dir, "events")
    hits, rest = R.split_by_predicate(events, F.col("event_type") == "error")
    tagged = hits.withColumn("branch", F.lit("error")).unionByName(
        rest.withColumn("branch", F.lit("ok"))
    )
    return tagged.groupBy("branch").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )


_ALIGN_COLS = ["o_orderkey", "o_totalprice", "feature_x", "o_shippriority"]


@key("p9_align_schema", oracle="""
            -- coalesce(col, 0.0) promotes present columns to DOUBLE;
            -- feature_x and o_shippriority are absent from the table
            -- and fill with the 0.0 default
            SELECT CAST(o_orderkey AS DOUBLE) AS o_orderkey, o_totalprice,
                   0.0::DOUBLE AS feature_x, 0.0::DOUBLE AS o_shippriority
            FROM orders
        """)
def q_align_schema(spark, sf_dir):
    # P9 schema alignment (models.py:101-104): force onto a declared
    # column set — extras dropped, missing filled 0.0, order fixed.
    orders = _t(spark, sf_dir, "orders")
    return R.align_schema(orders, _ALIGN_COLS, fill_value=0.0)


@key("p10_null_defaults", oracle="""
            SELECT coalesce(nullif(event_type, 'error'), 'UNKNOWN') AS etype,
                   0.0::DOUBLE AS absent_val,
                   count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """)
def q_null_defaults(spark, sf_dir):
    # P10 null-safe defaults (StreamsApp.kt:132-135 `?: "UNKNOWN"` /
    # `?: 0.0`): a missing JSON path and a nullified column both
    # coalesce to defaults before aggregation.
    events = _t(spark, sf_dir, "events")
    return (
        events.select(
            F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("UNKNOWN")).alias(
                "etype"
            ),
            F.coalesce(
                F.get_json_object("props", "$.absent").cast("double"), F.lit(0.0)
            ).alias("absent_val"),
            "value",
        )
        .groupBy("etype", "absent_val")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@key("j_asof_enrichment", oracle="""
            WITH clicks AS (
                SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t, value
                FROM events WHERE event_type = 'click'
            ),
            s AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
                       value AS profile_v
                FROM events WHERE event_type = 'signup'
            )
            SELECT c.event_id, c.user_id,
                   round(s.profile_v, 2) AS profile_v_asof
            FROM clicks c
            ASOF LEFT JOIN s ON c.user_id = s.user_id AND s.t <= c.t
        """)
def q_asof_enrichment(spark, sf_dir):
    # As-of join (custom operator — Spark has no ASOF JOIN): each click
    # event is enriched with the user's most recent prior-or-equal
    # signup value; NULL before any signup. One shuffle on the user key
    # via the union+carry-forward restatement (relational.asof_join).
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("profile_v")
    )
    out = R.asof_join(clicks, signups, key="user_id", ts="ts",
                      value_cols=["profile_v"])
    return out.select(
        "event_id", "user_id",
        F.round("profile_v_asof", 2).alias("profile_v_asof"),
    )


@key("j_interval_join", oracle="""
            WITH clicks AS (
                SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t, value
                FROM events WHERE event_type = 'click'
            ),
            sessions AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS start_ts,
                       CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS end_ts
                FROM events WHERE event_type = 'signup'
            )
            SELECT c.event_id, c.user_id, s.start_ts,
                   round(c.value, 2) AS value
            FROM clicks c JOIN sessions s
              ON c.user_id = s.user_id
             AND c.t >= s.start_ts AND c.t <= s.end_ts
        """)
def q_interval_join(spark, sf_dir):
    # Range/interval join (custom operator): each click joined to the
    # 1-hour "session window" opened by any signup of the same user.
    # Bucket-expansion equality join, not a per-key cartesian.
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    sessions = events.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    out = R.interval_join(
        clicks, sessions, key="user_id", ts="ts",
        start="start_ts", end="end_ts", granularity_sec=3600,
    )
    return out.select(
        "event_id", "user_id", "start_ts", F.round("value", 2).alias("value")
    )


@key("t14_sliding_window", oracle="""
            -- expand each event into its 2 overlapping 10-min windows
            -- (slide 5 min): starts at floor(e/300)*300 - {0, 300}
            WITH e AS (
                SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value,
                       CAST(floor(extract(epoch FROM CAST(ts AS TIMESTAMP)) / 300)
                            AS BIGINT) * 300 AS base
                FROM events
            ),
            expanded AS (
                SELECT strftime(to_timestamp(base - k * 300),
                                '%Y-%m-%d %H:%M:%S') AS window_start,
                       event_type, value
                FROM e, unnest([0, 1]) AS u(k)
            )
            SELECT window_start, event_type, count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM expanded GROUP BY 1, 2
        """)
def q_sliding_window(spark, sf_dir):
    # T14 extension (tumbling-only in the reference; Spark-native):
    # 10-minute windows sliding every 5 — each event lands in exactly 2
    # windows; counts therefore sum to 2x the row count (asserted by the
    # oracle's unnest-based window expansion).
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "10 minutes", "5 minutes"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def _calib_weights() -> list[float]:
    import numpy as np

    rng = np.random.RandomState(17)
    return [round(float(v), 6) for v in rng.uniform(-1.0, 1.0, 64)]


def _sql_eval_calibration() -> str:
    w = _calib_weights()
    chain = " + ".join(
        f"embedding[{i + 1}]::DOUBLE * {x!r}" for i, x in enumerate(w)
    )
    return f"""
        WITH scored AS (
            SELECT round(1.0 / (1.0 + exp(-({chain}))), 6)::DOUBLE AS score,
                   CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS is_pos
            FROM embeddings
        )
        SELECT least(floor(score * 10), 9)::INT AS bin,
               count(*) AS n,
               ((sum(cast(round(score * 1000000) as bigint)) * 2 + count(*))
                // (2 * count(*)))::BIGINT AS mean_score_e6,
               ((sum(is_pos) * 1000000 * 2 + count(*))
                // (2 * count(*)))::BIGINT AS pos_rate_e6
        FROM scored GROUP BY 1 ORDER BY 1
    """


@key("eval_calibration", oracle=_sql_eval_calibration)
def q_eval_calibration(spark, sf_dir):
    # Reliability curve (linucb.py:calibration_bins): sigmoid scores of
    # a literal linear model over the embeddings, binned against the
    # even-cluster label.
    from streaming_demos_spark.operators import linucb as LU

    emb = _t(spark, sf_dir, "embeddings")
    raw = sqlfrag.dot("cast(embedding as array<double>)",
                      sqlfrag.dbl_array(_calib_weights()))
    scored = emb.select(
        F.expr(f"round(1.0D / (1.0D + exp(-({raw}))), 6) AS score"),
        (F.col("label") % 2 == 0).cast("int").alias("is_pos"),
    )
    return LU.calibration_bins(scored, "score", "is_pos", n_bins=10)


@key("o4_per_key_time_split", oracle="""
            WITH r AS (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey
                       ) AS rk,
                       count(*) OVER (PARTITION BY o_custkey) AS nk
                FROM orders
            )
            SELECT o_custkey, o_orderkey,
                   CASE WHEN rk <= ceil(nk * 0.8) THEN 'train'
                        ELSE 'test' END AS split
            FROM r
        """)
def q_per_key_time_split(spark, sf_dir):
    # Grouped O4: per-customer temporal 80/20 split (no user's future
    # leaks into their own training slice). Key-partitioned window —
    # scale-safe, unlike a global-order split.
    out = R.per_key_time_split(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_orderdate",
        train_frac=0.8, tie_col="o_orderkey",
    )
    return out.select("o_custkey", "o_orderkey", "split")
