"""Classic decision-support query suite (TPC-H adapted to the TESTDATA
star schema) — the canonical multi-join / semi-join / anti-join /
correlated-aggregate plan shapes a relational engine must get right.

The reference engine's analytics surface (product-demos/streamlit/
utils.py, product-demos/producer/api.py) is built from exactly these
shapes — joins over the order/lineitem fact pair with dim enrichment,
grouped revenue rollups, top-k cuts — so this suite restates the
standard benchmark forms of those shapes on the same star schema.
Queries needing columns the TESTDATA schema trims (partsupp,
l_commitdate, l_receiptdate, l_shipmode, c_phone) are adapted to
equivalent plan shapes on the columns that exist; each docstring says
how.

Scale posture (100 TB):
- ``nation``/``region`` are fixed-size dims -> always broadcast.
- ``part`` follows the repo-wide dim treatment (dashboard_feed) ->
  broadcast hint; at extreme SF Catalyst/AQE demotes it to shuffle.
- ``customer``/``supplier``/``orders``/``lineitem`` are fact-scaled ->
  never broadcast; they shuffle on their join keys and AQE picks the
  physical strategy (and handles skew) at runtime.
- Every aggregate is expressed groupBy-first so partial (map-side)
  aggregation applies; every top-k is orderBy+limit so Spark plans
  TakeOrderedAndProject (no global sort).
- Date-range and category predicates are plain column comparisons ->
  pushed to the parquet scan.

Determinism: revenue/value outputs are EXACT e4/e2-scaled BIGINTs —
l_extendedprice / l_discount / c_acctbal are 2-dp decimals stored as
doubles, so ``round(x * 1e4)`` per ROW recovers an exact integer (a
fixed sequence of correctly-rounded IEEE ops, bit-identical in any
engine) and the aggregate is an order-independent integer sum. A
rounded float SUM, by contrast, can straddle its last ulp across
engine builds (the Nelson–Aalen driver-red class). Ratio outputs emit
numerator+denominator instead of the quotient. Every LIMIT is preceded
by a total order with a unique tie-breaker key.

BIGINT headroom: an e4-scaled revenue sum holds to ~9.2e18, i.e.
~9e14 currency units — beyond TPC-H sf100k total revenue; per-group
sums are orders of magnitude smaller still.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ts(s: str):
    return F.lit(s).cast("timestamp")


def _revenue_e4():
    """Per-row revenue as an EXACT e4-scaled BIGINT:
    ``round(l_extendedprice * (1 - l_discount) * 10000)``. Price and
    discount are 2-dp decimals, so the true product is an integer at
    scale 1e4; the three IEEE ops keep the double within ~4e-7 of it
    and round() recovers it exactly — deterministically, in any
    engine. Summing BIGINTs is then order-independent, unlike a float
    SUM whose rounded value can straddle an ulp across engine builds."""
    return F.expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint)"
    )


def q3_shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    pivot_date: str = "1998-06-15",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3: top-k unshipped orders by revenue for one market
    segment — orders placed before the pivot whose lineitems ship
    after it.

    Plan shape: segment filter prunes customer at the scan; the
    customer⨝orders join shuffles on the customer key, orders⨝lineitem
    on the order key; groupBy(l_orderkey) reuses the lineitem-side
    partitioning; orderBy+limit is TakeOrderedAndProject (k rows per
    partition -> driver), never a global sort.
    """
    return (
        customer.filter(F.col("c_mktsegment") == segment)
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < _ts(pivot_date))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > _ts(pivot_date))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_revenue_e4()).alias("revenue_e4"))
        .select("l_orderkey", "revenue_e4", "o_orderdate")
        .orderBy(F.desc("revenue_e4"), "l_orderkey")
        .limit(k)
    )


def q4_order_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1997-07-01",
    date_to: str = "1997-10-01",
    late_days: int = 60,
) -> DataFrame:
    """TPC-H Q4 (adapted): order-priority checking — count orders in a
    quarter having at least one lineitem that shipped "late".

    The spec's lateness test (l_commitdate < l_receiptdate) uses columns
    the TESTDATA schema trims; the adapted test — shipped more than
    ``late_days`` after the order date — exercises the identical plan
    shape: a LEFT SEMI join with a non-equi conjunct on top of the
    order-key equality (one shuffle each side, no row duplication, the
    EXISTS idiom).
    """
    in_quarter = orders.filter(
        (F.col("o_orderdate") >= _ts(date_from))
        & (F.col("o_orderdate") < _ts(date_to))
    )
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {int(late_days)} DAYS")
    )
    return (
        in_quarter.join(lineitem, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q5_local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
    date_from: str = "1997-01-01",
    date_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q5: revenue by nation from *local* supply chains (customer
    and supplier in the same nation) within one region and year.

    Plan shape: the supplier join carries BOTH the supplier-key equality
    and the local-nation equality (c_nationkey = s_nationkey) so the
    selective conjunct applies inside the join, not as a post-filter on
    a wider result. nation/region are fixed 25/5-row dims -> broadcast;
    the region filter prunes via the broadcast before aggregation.
    """
    return (
        lineitem.join(
            orders.filter(
                (F.col("o_orderdate") >= _ts(date_from))
                & (F.col("o_orderdate") < _ts(date_to))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(F.sum(_revenue_e4()).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), "n_name")
    )


def q6_forecast_revenue(
    lineitem: DataFrame,
    date_from: str = "1997-01-01",
    date_to: str = "1998-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    qty_below: float = 24.0,
) -> DataFrame:
    """TPC-H Q6: forecast-revenue-change — a pure scan-filter-aggregate
    with NO join. The whole plan must collapse to one parquet scan with
    all three predicates pushed + a 1-row partial/final aggregate; this
    is the pushdown probe for conjunctive range predicates (see
    tests/test_plans.py for the PushedFilters assertion).
    """
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= _ts(date_from))
            & (F.col("l_shipdate") < _ts(date_to))
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < qty_below)
        )
        .agg(
            F.sum(
                F.expr(
                    "cast(round(l_extendedprice * l_discount * 10000)"
                    " as bigint)"
                )
            ).alias("revenue_e4")
        )
    )


def q7_nation_volume(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_3",
    nation_b: str = "NATION_14",
    date_from: str = "1998-01-01",
    date_to: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by ship
    year, in both directions.

    Plan shape: the two nation dims broadcast twice under different
    aliases (supplier side / customer side); the disjunctive
    direction predicate ((a,b) or (b,a)) applies after both broadcasts
    — Catalyst folds it into the joined stream, and because each
    nation dim is pre-filtered to the two names, the broadcast hash
    tables are 2 rows each and the fact stream is pruned at the first
    join touch.
    """
    pair = [nation_a, nation_b]
    n1 = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("_n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("_n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= _ts(date_from))
            & (F.col("l_shipdate") < _ts(date_to))
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2_key"))
        .filter(
            (
                (F.col("supp_nation") == nation_a)
                & (F.col("cust_nation") == nation_b)
            )
            | (
                (F.col("supp_nation") == nation_b)
                & (F.col("cust_nation") == nation_a)
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_revenue_e4()).alias("revenue_e4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q10_returned_items(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_from: str = "1997-10-01",
    date_to: str = "1998-01-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10: top-k customers by revenue lost to returned items in
    one quarter.

    Plan shape: the quarter predicate prunes orders at the scan and the
    returnflag predicate prunes lineitem at the scan BEFORE either side
    shuffles; groupBy carries the customer attributes through the
    aggregate (they are functionally dependent on c_custkey, so the
    wider key adds no cardinality); orderBy+limit ->
    TakeOrderedAndProject.
    """
    return (
        orders.filter(
            (F.col("o_orderdate") >= _ts(date_from))
            & (F.col("o_orderdate") < _ts(date_to))
        )
        .join(
            lineitem.filter(F.col("l_returnflag") == "R"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_revenue_e4()).alias("revenue_e4"))
        .select("c_custkey", "c_name", "revenue_e4", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue_e4"), "c_custkey")
        .limit(k)
    )


def q14_promo_effect(
    lineitem: DataFrame,
    part: DataFrame,
    date_from: str = "1998-03-01",
    date_to: str = "1998-04-01",
    promo_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q14: share of one month's revenue from promotional parts —
    the conditional-aggregation (CASE inside SUM) shape.

    The spec's ``p_type LIKE 'PROMO%'`` collapses to equality on the
    TESTDATA schema's single-word p_type categories. One broadcast-dim
    join, one 1-row aggregate; try_divide guards the empty-month case
    under ANSI mode.
    """
    month = lineitem.filter(
        (F.col("l_shipdate") >= _ts(date_from))
        & (F.col("l_shipdate") < _ts(date_to))
    )
    promo = F.when(
        F.col("p_type") == promo_type, _revenue_e4()
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        month.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).alias("promo_revenue_e4"),
            F.sum(_revenue_e4()).alias("total_revenue_e4"),
        )
    )


def q15_top_supplier(
    supplier: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1997-07-01",
    date_to: str = "1997-10-01",
) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum 3-month revenue — the
    aggregate-then-compare-to-global-max shape (the spec's revenue
    view + MAX subquery).

    Plan shape: one shuffle to group lineitem by supplier key; the
    global max is a 1-row aggregate broadcast back into the stream (no
    driver collect, no second scan of lineitem); the supplier dim joins
    after the max filter so only winner rows touch it. Revenues are
    compared ROUNDED (2 dp) on both sides — the same rounding the
    oracle uses — so summation-order ulps cannot flip the winner.
    """
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= _ts(date_from))
            & (F.col("l_shipdate") < _ts(date_to))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_revenue_e4()).alias("total_revenue_e4"))
    )
    mx = rev.agg(F.max("total_revenue_e4").alias("_max_rev"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue_e4") == F.col("_max_rev"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue_e4")
        )
        .orderBy("s_suppkey")
    )


def q17_small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#9",
    qty_fraction: float = 0.2,
    years: float = 7.0,
) -> DataFrame:
    """TPC-H Q17: average yearly revenue lost if small-quantity orders
    (below ``qty_fraction`` of the part's own mean quantity) were not
    taken — the correlated-scalar-subquery shape.

    The spec's correlated ``0.2 * avg(l_quantity) per part`` becomes a
    window mean over the part key: the brand's parts broadcast into
    lineitem FIRST (so the fact stream is pruned to the brand before
    any shuffle), then ONE shuffle on l_partkey computes the per-part
    mean and the comparison in the same exchange — strictly better than
    the self-join translation, which would scan and shuffle lineitem
    twice. (p_container, which the spec also filters, is trimmed from
    the TESTDATA schema; brand alone keeps the same selectivity role.)
    """
    parts = part.filter(F.col("p_brand") == brand).select("p_partkey")
    w = Window.partitionBy("l_partkey")
    return (
        lineitem.join(
            F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey")
        )
        .withColumn("_avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < qty_fraction * F.col("_avg_qty"))
        .agg(
            F.sum(
                F.expr("cast(round(l_extendedprice * 100) as bigint)")
            ).alias("total_revenue_cents"),
            F.lit(float(years)).alias("years"),
        )
    )


def q18_large_volume_customer(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    qty_threshold: float = 300.0,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q18: large-volume customers — orders whose total lineitem
    quantity exceeds a threshold, with the customer attached.

    Plan shape: the HAVING subquery and the outer per-order quantity
    sum are the SAME aggregate, so it is computed once (one shuffle on
    l_orderkey) and reused — no second lineitem scan, unlike the
    literal spec translation. The filtered order set is tiny (top
    ~0.1 % of orders), so both enrichment joins run against a stream
    AQE will plan as broadcast at runtime; orderBy+limit ->
    TakeOrderedAndProject.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 1).alias("total_qty"))
        .filter(F.col("total_qty") > qty_threshold)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(k)
    )


def q19_discounted_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    clauses: tuple = (
        ("Brand#1", 1, 15, 1.0, 20.0),
        ("Brand#2", 10, 30, 10.0, 30.0),
        ("Brand#9", 20, 50, 20.0, 50.0),
    ),
) -> DataFrame:
    """TPC-H Q19: revenue matching a disjunction of (brand, size-range,
    quantity-range) clauses — the OR-of-conjuncts join shape.

    Each clause couples part attributes with a lineitem attribute, so
    nothing but the partkey equality can drive the join; the part side
    pre-filters to the union of clause brands (prunes the broadcast
    hash table), and the full disjunction evaluates inside the joined
    stream in one pass. (The spec's p_container/l_shipmode conjuncts
    use trimmed columns; brand x size x quantity keeps the shape.)
    """
    brands = sorted({c[0] for c in clauses})
    pf = part.filter(F.col("p_brand").isin(brands)).select(
        "p_partkey", "p_brand", "p_size"
    )
    cond = None
    for brand, size_lo, size_hi, qty_lo, qty_hi in clauses:
        c = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= size_lo)
            & (F.col("p_size") <= size_hi)
            & (F.col("l_quantity") >= qty_lo)
            & (F.col("l_quantity") <= qty_hi)
        )
        cond = c if cond is None else (cond | c)
    return (
        lineitem.join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(F.sum(_revenue_e4()).alias("revenue_e4"))
    )


def q22_dormant_high_balance(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    dormant_since: str = "1999-08-01",
) -> DataFrame:
    """TPC-H Q22 (adapted): sales-opportunity scan — high-balance
    customers with NO recent orders, counted per nation.

    The spec's "no orders at all" is empty on TESTDATA (every customer
    has orders) and its country-code substring uses the trimmed c_phone,
    so the adaptation keeps the exact plan shapes — scalar-subquery
    threshold + NOT EXISTS — with "recent" = since ``dormant_since``
    and nation as the grouping: the average positive balance is a 1-row
    aggregate broadcast into the filter (no driver collect), and the
    anti-join runs against orders PRE-FILTERED to the recent window, so
    the anti-join's build side shrinks with the predicate instead of
    carrying the whole history.
    """
    # Threshold compare in pure BIGINT: bal_cents * n > total_cents is
    # bal > avg with no float average to straddle across engine builds.
    bal_cents = F.expr("cast(round(c_acctbal * 100) as bigint)")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal_cents).alias("_sum_cents"),
        F.count("*").alias("_n_pos"),
    )
    recent = orders.filter(F.col("o_orderdate") >= _ts(dormant_since)).select(
        "o_custkey"
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(bal_cents * F.col("_n_pos") > F.col("_sum_cents"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.expr("cast(round(c_acctbal * 100) as bigint)")).alias(
                "totacctbal_cents"
            ),
        )
        .orderBy("n_name")
    )


def q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "EUROPE",
    size: int = 15,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q2 (adapted): for each part of one size, the cheapest
    supplier in one region — the correlated-min + join-back shape.

    The spec's partsupp.ps_supplycost is trimmed from TESTDATA, so the
    supply relation and its cost come from observed trade: the DISTINCT
    (part, supplier) pairs in lineitem, costed at the supplier's
    minimum observed unit price (min over that pair's lineitems of
    l_extendedprice / l_quantity). The correlated subquery ("cost =
    min cost over suppliers of this part in the region") is a window
    min over p_partkey — one shuffle, strictly better than the spec's
    self-join translation which scans the supply relation twice.

    Plan shape: size filter prunes part at the scan; nation/region
    broadcast; the supply relation aggregates once on (part, supplier);
    ties on min cost break by s_suppkey via the rank window's full
    ordering; orderBy+limit -> TakeOrderedAndProject.
    """
    # fixed-point quantization (floor(x*1e4+0.5)/1e4), NOT F.round:
    # decimal HALF_UP vs binary rounding diverges exactly at 4-dp
    # midpoints, while this chain is plain IEEE ops every engine
    # computes bit-identically on the same doubles.
    unit_cost = (
        F.floor(
            F.min(F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")))
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    supply = (
        lineitem.groupBy("l_partkey", "l_suppkey")
        .agg(unit_cost.alias("supply_cost"))
    )
    regional = (
        supply.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(
            F.broadcast(
                part.filter(F.col("p_size") == size).select(
                    "p_partkey", "p_brand"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    w = Window.partitionBy("p_partkey").orderBy("supply_cost", "s_suppkey")
    return (
        regional.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "p_partkey",
            "p_brand",
            F.col("s_suppkey"),
            F.col("s_name"),
            F.col("n_name"),
            F.col("supply_cost"),
        )
        .orderBy(F.desc("supply_cost"), "p_partkey")
        .limit(k)
    )


def q8_market_share(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_3",
    region_name: str = "ASIA",
    p_type: str = "PROMO",
    date_from: str = "1997-01-01",
    date_to: str = "1999-01-01",
) -> DataFrame:
    """TPC-H Q8: one nation's share of a region's market for one part
    type, by order year — the conditional-share (sum(case)/sum) shape
    over a 7-table join.

    Plan shape: the market is defined by the CUSTOMER's region (nation
    + region broadcast on the customer side), the share by the
    SUPPLIER's nation (second broadcast of nation under an alias); the
    type filter prunes part before its broadcast, and the date filter
    prunes orders at the scan. One groupBy(year) aggregate computes
    both the numerator and denominator — a single pass, no self-join.
    """
    cust_nat = nation.select(
        F.col("n_nationkey").alias("_cn_key"),
        F.col("n_regionkey").alias("_cn_region"),
    )
    supp_nat = nation.select(
        F.col("n_nationkey").alias("_sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(
            F.broadcast(
                part.filter(F.col("p_type") == p_type).select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.filter(
                (F.col("o_orderdate") >= _ts(date_from))
                & (F.col("o_orderdate") < _ts(date_to))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nat), F.col("c_nationkey") == F.col("_cn_key"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("_cn_region") == F.col("r_regionkey"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nat), F.col("s_nationkey") == F.col("_sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == target_nation, _revenue_e4())
                .otherwise(F.lit(0).cast("bigint"))
            ).alias("nation_volume_e4"),
            F.sum(_revenue_e4()).alias("total_volume_e4"),
        )
        .orderBy("o_year")
    )


def q9_product_profit(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    name_token: str = "red",
    cost_factor: float = 0.6,
) -> DataFrame:
    """TPC-H Q9 (adapted): profit by supplier nation and order year for
    parts whose name contains a token.

    The spec's cost term (ps_supplycost * l_quantity) uses the trimmed
    partsupp; the adapted cost — ``cost_factor * p_retailprice *
    l_quantity`` — preserves the exact plan shape (the part dim joined
    into the profit expression) with a deterministic stand-in.

    Plan shape: the name filter prunes part before broadcast; profit is
    computed inside the joined stream; one groupBy(nation, year)
    aggregate; contains() cannot push to parquet but evaluates in the
    scan stage before any shuffle.
    """
    profit_e4 = _revenue_e4() - F.expr(
        f"cast(round({cost_factor} * p_retailprice * l_quantity * 10000)"
        " as bigint)"
    )
    return (
        lineitem.join(
            F.broadcast(
                part.filter(
                    F.contains(F.col("p_name"), F.lit(name_token))
                ).select("p_partkey", "p_retailprice")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit_e4).alias("sum_profit_e4"))
        .orderBy("nation", F.desc("o_year"))
    )


def q11_important_stock(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_7",
    fraction: float = 0.001,
) -> DataFrame:
    """TPC-H Q11 (adapted): parts representing an outsized share of one
    nation's traded value — the fraction-of-global-scalar shape
    (grouped sum vs a broadcast threshold derived from the SAME sum).

    The spec's inventory value (ps_supplycost * ps_availqty) uses the
    trimmed partsupp; traded value (l_extendedprice * l_quantity summed
    over the nation's suppliers' lineitems) keeps the identical
    aggregate-vs-scalar-subquery plan: one (partkey) shuffle for the
    per-part sums, a 1-row aggregate over the same frame broadcast back
    as the threshold — the per-part frame is computed ONCE and reused
    for both sides, never two scans.
    """
    traded = (
        lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.filter(F.col("n_name") == nation_name)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.expr(
                    "cast(round(l_extendedprice * l_quantity * 100)"
                    " as bigint)"
                )
            ).alias("part_value_cents")
        )
    )
    # fraction is a terminating decimal: compare part * denom > total *
    # numer in pure BIGINT (no float threshold to straddle).
    from fractions import Fraction

    frac = Fraction(str(fraction))
    threshold = traded.agg(F.sum("part_value_cents").alias("_tot"))
    return (
        traded.join(F.broadcast(threshold))
        .filter(
            F.col("part_value_cents") * F.lit(frac.denominator)
            > F.col("_tot") * F.lit(frac.numerator)
        )
        .select("l_partkey", "part_value_cents")
        .orderBy(F.desc("part_value_cents"), "l_partkey")
    )


def q12_late_shipment_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1997-01-01",
    date_to: str = "1998-01-01",
    tiers: tuple = ((30, 60), (60, 100000)),
) -> DataFrame:
    """TPC-H Q12 (adapted): shipping-delay tiers vs order priority —
    count high- and low-priority orders per lateness tier.

    The spec groups by l_shipmode with a commit/receipt lateness test;
    both columns are trimmed, so the adapted grouping is the ship-delay
    tier (days between order and ship date, bucketed) and the lateness
    window is a year of ship dates — the identical join + dual
    conditional count shape.

    Plan shape: one orderkey shuffle joins the year's lineitems to
    orders; the tier expression and both CASE counts evaluate in the
    joined stream; one small groupBy(tier) aggregate.
    """
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    tier = None
    for lo, hi in sorted(tiers):
        label = f"{lo}-{hi}d" if hi < 100000 else f">{lo}d"
        cond = (delay >= lo) & (delay < hi)
        tier = (
            F.when(cond, F.lit(label))
            if tier is None
            else tier.when(cond, F.lit(label))
        )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= _ts(date_from))
            & (F.col("l_shipdate") < _ts(date_to))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("delay_tier", tier)
        .filter(F.col("delay_tier").isNotNull())
        .groupBy("delay_tier")
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
        .orderBy("delay_tier")
    )


def q13_customer_distribution(
    customer: DataFrame,
    orders: DataFrame,
    exclude_priority: str = "5-LOW",
) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count, including
    the zero-order bucket — the left-outer-join + double-aggregation
    shape.

    The spec excludes orders by a comment pattern (trimmed column); the
    adaptation excludes one order priority, preserving the filtered
    LEFT join exactly (the filter rides ON the join, not WHERE — a
    WHERE would silently turn the join inner and lose the zero
    bucket).

    Plan shape: shuffle both sides on custkey once; count(o_orderkey)
    (not count(*)) makes unmatched customers count 0; the second
    aggregate runs on the |customers|-row frame, and its distribution
    output is at most |distinct counts| rows.
    """
    kept = orders.filter(F.col("o_orderpriority") != exclude_priority)
    per_cust = (
        customer.join(
            kept, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q16_supplier_part_counts(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    exclude_brand: str = "Brand#5",
    sizes: tuple = (1, 7, 14, 23, 36, 45, 49, 3),
) -> DataFrame:
    """TPC-H Q16 (adapted): how many distinct suppliers can deliver
    each (brand, type, size) combination, excluding one brand and
    excluding flagged suppliers — the distinct-count over a derived
    supply relation + NOT IN shape.

    Adaptations on the trimmed schema: the supply relation is the
    DISTINCT (part, supplier) pairs observed in lineitem (partsupp is
    trimmed); the spec's complaint-comment supplier blacklist becomes
    s_acctbal < 0 (a deterministic flag that exercises the same
    anti-join).

    Plan shape: the part filter prunes at the scan and broadcasts; the
    blacklist is a tiny anti-join build side; ONE shuffle on (brand,
    type, size) computes the distinct supplier count (partial distinct
    map-side).
    """
    flagged = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    pf = part.filter(
        (F.col("p_brand") != exclude_brand)
        & (F.col("p_size").isin(list(sizes)))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        pairs.join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(flagged),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


def q20_excess_shippers(
    supplier: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_2",
    p_type: str = "PROMO",
    date_from: str = "1997-01-01",
    date_to: str = "1998-01-01",
    excess_factor: float = 0.18,
) -> DataFrame:
    """TPC-H Q20 (adapted): suppliers in one nation who shipped an
    outsized share of their multi-year volume of one part type inside
    one year — the nested semi-join + correlated-threshold shape.

    The spec compares ps_availqty (trimmed) to half the year's shipped
    quantity; the adaptation compares the year's shipped quantity to
    ``excess_factor`` x the supplier's all-time shipped quantity of the
    same part set — the same correlated aggregate comparison, built
    from one (suppkey) aggregation per period, joined, filtered, then
    SEMI-joined into supplier so each supplier appears once.

    Plan shape: the part-type set broadcasts into both lineitem passes;
    the two per-supplier aggregates shuffle on the same key (AQE
    co-locates them); the final semi-join's build side is the small
    qualifying-supplier set.
    """
    promo_parts = F.broadcast(
        part.filter(F.col("p_type") == p_type).select("p_partkey")
    )
    year_qty = (
        lineitem.filter(
            (F.col("l_shipdate") >= _ts(date_from))
            & (F.col("l_shipdate") < _ts(date_to))
        )
        .join(promo_parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_yr"))
    )
    all_qty = (
        lineitem.join(promo_parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_suppkey").alias("_sk"))
        .agg(F.sum("l_quantity").alias("_all"))
    )
    qualifying = (
        year_qty.join(all_qty, F.col("l_suppkey") == F.col("_sk"))
        .filter(F.col("_yr") > F.lit(excess_factor) * F.col("_all"))
        .select("l_suppkey")
    )
    return (
        supplier.join(
            F.broadcast(nation.filter(F.col("n_name") == nation_name)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            qualifying,
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q21_waiting_orders(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_14",
    late_days: int = 60,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q21 (adapted): suppliers who were the SOLE late supplier
    on a multi-supplier order — the exists + not-exists pair over the
    same fact table.

    The spec's lateness (l_receiptdate > l_commitdate) uses trimmed
    columns; shipped more than ``late_days`` after the order date is
    the stand-in. The exists ("another supplier on the order") and
    not-exists ("no OTHER late supplier") are restated over a
    per-(order, supplier) pre-aggregation: one (orderkey, suppkey)
    shuffle collapses lineitems to distinct pairs carrying a was-late
    flag, so the per-order "distinct suppliers / distinct late
    suppliers" are plain count/sum on the pair table — no
    countDistinct Expand, no second distinct pass — and the pair⨝order
    join re-uses the orderkey partitioning. This computes both
    quantified subqueries in two co-partitioned shuffles instead of
    the spec's triple self-join.

    Plan shape: lineitem joins orders once (orderkey shuffle),
    F-status prunes orders at the scan, the supplier dim joins after
    the heavy filter; orderBy+limit -> TakeOrderedAndProject.
    """
    pairs = (
        lineitem.join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate")
                    + F.expr(f"INTERVAL {int(late_days)} DAYS")
                ).cast("int")
            ).alias("_late")
        )
    )
    per_order = pairs.groupBy(F.col("l_orderkey").alias("_ok")).agg(
        F.count("*").alias("_n_supp"),
        F.sum("_late").alias("_n_late"),
    )
    sole_late = (
        pairs.filter(F.col("_late") == 1)
        .join(per_order, F.col("l_orderkey") == F.col("_ok"))
        .filter((F.col("_n_supp") > 1) & (F.col("_n_late") == 1))
    )
    return (
        sole_late.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.filter(F.col("n_name") == nation_name)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(k)
    )
