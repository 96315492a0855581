"""``tpch_*`` keys: the TPC-H suite (operators/tpch.py). Oracle rounding
and aliases mirror the Spark plans exactly; every LIMIT is preceded by
a total order with a unique tie-breaker key.
"""

from __future__ import annotations

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import tpch as TPCH
from streaming_demos_spark.queries import key


@key("tpch_q3", oracle="""
            SELECT l.l_orderkey,
                   sum(cast(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) as bigint))::BIGINT AS revenue_e4,
                   o.o_orderdate
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-06-15'
              AND l.l_shipdate > TIMESTAMP '1998-06-15'
            GROUP BY l.l_orderkey, o.o_orderdate
            ORDER BY revenue_e4 DESC, l.l_orderkey
            LIMIT 10
        """)
def q_tpch_q3(spark, sf_dir):
    # Classic shipping-priority: 3-table join + top-k (tpch.py).
    return TPCH.q3_shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@key("tpch_q4", oracle="""
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
              AND o.o_orderdate < TIMESTAMP '1997-10-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """)
def q_tpch_q4(spark, sf_dir):
    # Semi-join with a non-equi lateness conjunct (tpch.py).
    return TPCH.q4_order_priority(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@key("tpch_q5", oracle="""
            SELECT n.n_name,
                   sum(cast(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) as bigint))::BIGINT AS revenue_e4
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n.n_name
            ORDER BY revenue_e4 DESC, n.n_name
        """)
def q_tpch_q5(spark, sf_dir):
    # 6-table local-supply-chain join with broadcast dims (tpch.py).
    return TPCH.q5_local_supplier_volume(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@key("tpch_q6", oracle="""
            SELECT sum(cast(round(l_extendedprice * l_discount * 10000)
                            as bigint))::BIGINT AS revenue_e4
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24.0
        """)
def q_tpch_q6(spark, sf_dir):
    # Pure pushdown probe: scan-filter-aggregate, no join (tpch.py).
    return TPCH.q6_forecast_revenue(_t(spark, sf_dir, "lineitem"))


@key("tpch_q7", oracle="""
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l.l_shipdate) AS l_year,
                   sum(cast(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) as bigint))::BIGINT AS revenue_e4
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
              AND l.l_shipdate < TIMESTAMP '2000-01-01'
              AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_14')
                   OR (n1.n_name = 'NATION_14' AND n2.n_name = 'NATION_3'))
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """)
def q_tpch_q7(spark, sf_dir):
    # Bilateral nation trade volume, dual-aliased broadcast dim (tpch.py).
    return TPCH.q7_nation_volume(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


@key("tpch_q10", oracle="""
            SELECT c.c_custkey, c.c_name,
                   sum(cast(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) as bigint))::BIGINT AS revenue_e4,
                   c.c_acctbal, n.n_name
            FROM orders o
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE o.o_orderdate >= TIMESTAMP '1997-10-01'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
              AND l.l_returnflag = 'R'
            GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
            ORDER BY revenue_e4 DESC, c.c_custkey
            LIMIT 20
        """)
def q_tpch_q10(spark, sf_dir):
    # Returned-item top-k with scan-side predicates (tpch.py).
    return TPCH.q10_returned_items(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


@key("tpch_q14", oracle="""
            SELECT sum(CASE WHEN p.p_type = 'PROMO'
                            THEN cast(round(l.l_extendedprice
                                 * (1 - l.l_discount) * 10000) as bigint)
                            ELSE 0 END)::BIGINT AS promo_revenue_e4,
                   sum(cast(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) as bigint))::BIGINT
                       AS total_revenue_e4
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1998-03-01'
              AND l.l_shipdate < TIMESTAMP '1998-04-01'
        """)
def q_tpch_q14(spark, sf_dir):
    # Conditional aggregation (promo revenue share) (tpch.py).
    return TPCH.q14_promo_effect(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@key("tpch_q15", oracle="""
            WITH rev AS (
                SELECT l_suppkey,
                       sum(cast(round(l_extendedprice * (1 - l_discount)
                                      * 10000) as bigint))
                           AS total_revenue_e4
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-07-01'
                  AND l_shipdate < TIMESTAMP '1997-10-01'
                GROUP BY l_suppkey
            )
            SELECT s.s_suppkey, s.s_name,
                   r.total_revenue_e4::BIGINT AS total_revenue_e4
            FROM rev r
            JOIN supplier s ON r.l_suppkey = s.s_suppkey
            WHERE r.total_revenue_e4 = (SELECT max(total_revenue_e4) FROM rev)
            ORDER BY s.s_suppkey
        """)
def q_tpch_q15(spark, sf_dir):
    # Aggregate-vs-global-max (top supplier) (tpch.py).
    return TPCH.q15_top_supplier(
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "lineitem")
    )


@key("tpch_q17", oracle="""
            WITH brand_lines AS (
                SELECT l.l_quantity, l.l_extendedprice,
                       avg(l.l_quantity)
                           OVER (PARTITION BY l.l_partkey) AS avg_qty
                FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_brand = 'Brand#9'
            )
            SELECT sum(cast(round(l_extendedprice * 100) as bigint))::BIGINT
                       AS total_revenue_cents,
                   7.0::DOUBLE AS years
            FROM brand_lines
            WHERE l_quantity < 0.2 * avg_qty
        """)
def q_tpch_q17(spark, sf_dir):
    # Correlated per-part mean as a single-shuffle window (tpch.py).
    return TPCH.q17_small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@key("tpch_q18", oracle="""
            WITH big AS (
                SELECT l_orderkey, round(sum(l_quantity), 1) AS total_qty
                FROM lineitem
                GROUP BY l_orderkey
                HAVING round(sum(l_quantity), 1) > 300.0
            )
            SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
                   o.o_totalprice, b.total_qty
            FROM big b
            JOIN orders o ON b.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey
            LIMIT 100
        """)
def q_tpch_q18(spark, sf_dir):
    # HAVING-subquery aggregate computed once and reused (tpch.py).
    return TPCH.q18_large_volume_customer(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@key("tpch_q19", oracle="""
            SELECT sum(cast(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) as bigint))::BIGINT AS revenue_e4
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 1.0 AND 20.0)
               OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
                   AND l.l_quantity BETWEEN 10.0 AND 30.0)
               OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 20 AND 50
                   AND l.l_quantity BETWEEN 20.0 AND 50.0)
        """)
def q_tpch_q19(spark, sf_dir):
    # Disjunctive multi-clause join predicate (tpch.py).
    return TPCH.q19_discounted_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@key("tpch_q22", oracle="""
            SELECT n.n_name, count(*) AS numcust,
                   sum(cast(round(c.c_acctbal * 100) as bigint))::BIGINT
                       AS totacctbal_cents
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE cast(round(c.c_acctbal * 100) as bigint)
                  * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
                  > (SELECT sum(cast(round(c_acctbal * 100) as bigint))
                     FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (
                  SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-08-01'
              )
            GROUP BY n.n_name
            ORDER BY n.n_name
        """)
def q_tpch_q22(spark, sf_dir):
    # Scalar-subquery threshold + anti-join on recent orders (tpch.py).
    return TPCH.q22_dormant_high_balance(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
    )


@key("tpch_q2", oracle="""
            WITH supply AS (
                SELECT l_partkey, l_suppkey,
                       floor(min(l_extendedprice
                                 / nullif(l_quantity, 0)) * 10000 + 0.5)
                           / 10000 AS supply_cost
                FROM lineitem GROUP BY l_partkey, l_suppkey
            ),
            regional AS (
                SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name,
                       n.n_name, sp.supply_cost,
                       row_number() OVER (
                           PARTITION BY p.p_partkey
                           ORDER BY sp.supply_cost, s.s_suppkey) AS rk
                FROM supply sp
                JOIN supplier s ON sp.l_suppkey = s.s_suppkey
                JOIN nation n ON s.s_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
                JOIN part p ON sp.l_partkey = p.p_partkey
                WHERE r.r_name = 'EUROPE' AND p.p_size = 15
            )
            SELECT p_partkey, p_brand, s_suppkey, s_name, n_name,
                   supply_cost
            FROM regional WHERE rk = 1
            ORDER BY supply_cost DESC, p_partkey
            LIMIT 20
        """)
def q_tpch_q2(spark, sf_dir):
    # Correlated-min supplier choice over the observed supply relation
    # (tpch.py:q2_min_cost_supplier).
    return TPCH.q2_min_cost_supplier(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@key("tpch_q8", oracle="""
            SELECT year(o.o_orderdate) AS o_year,
                   sum(CASE WHEN n2.n_name = 'NATION_3'
                            THEN cast(round(l.l_extendedprice
                                 * (1 - l.l_discount) * 10000) as bigint)
                            ELSE 0 END)::BIGINT AS nation_volume_e4,
                   sum(cast(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) as bigint))::BIGINT
                       AS total_volume_e4
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
            JOIN region r ON n1.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
            WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1999-01-01'
            GROUP BY o_year
            ORDER BY o_year
        """)
def q_tpch_q8(spark, sf_dir):
    # Nation market share: conditional share over a 7-table join
    # (tpch.py:q8_market_share).
    return TPCH.q8_market_share(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@key("tpch_q9", oracle="""
            SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
                   sum(cast(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) as bigint)
                       - cast(round(0.6 * p.p_retailprice * l.l_quantity
                                    * 10000) as bigint))::BIGINT AS sum_profit_e4
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE contains(p.p_name, 'red')
            GROUP BY nation, o_year
            ORDER BY nation, o_year DESC
        """)
def q_tpch_q9(spark, sf_dir):
    # Product profit by supplier nation and year (tpch.py:q9_product_profit).
    return TPCH.q9_product_profit(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
    )


@key("tpch_q11", oracle="""
            WITH traded AS (
                SELECT l.l_partkey,
                       sum(cast(round(l.l_extendedprice * l.l_quantity
                                      * 100) as bigint)) AS part_value_cents
                FROM lineitem l
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                JOIN nation n ON s.s_nationkey = n.n_nationkey
                WHERE n.n_name = 'NATION_7'
                GROUP BY l.l_partkey
            )
            SELECT l_partkey, part_value_cents::BIGINT AS part_value_cents
            FROM traded
            WHERE part_value_cents * 1000 > (SELECT sum(part_value_cents)
                                             FROM traded)
            ORDER BY part_value_cents DESC, l_partkey
        """)
def q_tpch_q11(spark, sf_dir):
    # Fraction-of-total important parts (tpch.py:q11_important_stock).
    return TPCH.q11_important_stock(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@key("tpch_q12", oracle="""
            SELECT CASE
                       WHEN date_diff('day', o.o_orderdate::DATE, l.l_shipdate::DATE)
                            BETWEEN 30 AND 59 THEN '30-60d'
                       ELSE '>60d'
                   END AS delay_tier,
                   sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                   sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
              AND date_diff('day', o.o_orderdate::DATE, l.l_shipdate::DATE) >= 30
            GROUP BY delay_tier
            ORDER BY delay_tier
        """)
def q_tpch_q12(spark, sf_dir):
    # Ship-delay tiers vs order priority (tpch.py:q12_late_shipment_priority).
    return TPCH.q12_late_shipment_priority(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@key("tpch_q13", oracle="""
            WITH per_cust AS (
                SELECT c.c_custkey, count(o.o_orderkey) AS c_count
                FROM customer c
                LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                                  AND o.o_orderpriority <> '5-LOW'
                GROUP BY c.c_custkey
            )
            SELECT c_count, count(*) AS custdist
            FROM per_cust
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """)
def q_tpch_q13(spark, sf_dir):
    # Customer order-count distribution incl. zero bucket
    # (tpch.py:q13_customer_distribution).
    return TPCH.q13_customer_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@key("tpch_q16", oracle="""
            SELECT p.p_brand, p.p_type, p.p_size,
                   count(DISTINCT sp.l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sp
            JOIN part p ON sp.l_partkey = p.p_partkey
            WHERE p.p_brand <> 'Brand#5'
              AND p.p_size IN (1, 7, 14, 23, 36, 45, 49, 3)
              AND sp.l_suppkey NOT IN (
                  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p.p_brand, p.p_type, p.p_size
            ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
        """)
def q_tpch_q16(spark, sf_dir):
    # Distinct supplier counts per part spec (tpch.py:q16_supplier_part_counts).
    return TPCH.q16_supplier_part_counts(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
    )


@key("tpch_q20", oracle="""
            WITH promo AS (
                SELECT p_partkey FROM part WHERE p_type = 'PROMO'
            ),
            yr AS (
                SELECT l_suppkey, sum(l_quantity) AS q
                FROM lineitem JOIN promo ON l_partkey = p_partkey
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1998-01-01'
                GROUP BY l_suppkey
            ),
            alltime AS (
                SELECT l_suppkey, sum(l_quantity) AS q
                FROM lineitem JOIN promo ON l_partkey = p_partkey
                GROUP BY l_suppkey
            )
            SELECT s.s_suppkey, s.s_name
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_2'
              AND s.s_suppkey IN (
                  SELECT yr.l_suppkey FROM yr
                  JOIN alltime a ON yr.l_suppkey = a.l_suppkey
                  WHERE yr.q > 0.18::DOUBLE * a.q)
            ORDER BY s.s_suppkey
        """)
def q_tpch_q20(spark, sf_dir):
    # Nested semi-join + correlated threshold (tpch.py:q20_excess_shippers).
    return TPCH.q20_excess_shippers(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "nation"),
    )


@key("tpch_q21", oracle="""
            WITH li AS (
                SELECT l.l_orderkey, l.l_suppkey,
                       CASE WHEN l.l_shipdate
                                 > o.o_orderdate + INTERVAL 60 DAY
                            THEN 1 ELSE 0 END AS late
                FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                WHERE o.o_orderstatus = 'F'
            ),
            per_order AS (
                SELECT l_orderkey,
                       count(DISTINCT l_suppkey) AS n_supp,
                       count(DISTINCT CASE WHEN late = 1
                                           THEN l_suppkey END) AS n_late
                FROM li GROUP BY l_orderkey
            ),
            sole AS (
                SELECT DISTINCT li.l_orderkey, li.l_suppkey
                FROM li JOIN per_order p ON li.l_orderkey = p.l_orderkey
                WHERE li.late = 1 AND p.n_supp > 1 AND p.n_late = 1
            )
            SELECT s.s_name, count(*) AS numwait
            FROM sole
            JOIN supplier s ON sole.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_14'
            GROUP BY s.s_name
            ORDER BY numwait DESC, s.s_name
            LIMIT 100
        """)
def q_tpch_q21(spark, sf_dir):
    # Sole-late-supplier detection: exists + not-exists as ONE per-order
    # aggregate (tpch.py:q21_waiting_orders).
    return TPCH.q21_waiting_orders(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
    )
