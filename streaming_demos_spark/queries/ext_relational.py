"""``ext_*`` keys that compose operators/relational.py (and the plain
DataFrame rollup/cube/grouping-set keys): event analytics, time series,
survival curves, forecasting, profiling and record linkage.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.catalog import zorder_key
from streaming_demos_spark.operators import relational as R
from streaming_demos_spark.queries import generated, key


@key("ext_hierarchical_rollup", oracle="""
            -- oracle computes the daily level straight from raw rows;
            -- the engine's hourly->daily reaggregation must agree
            SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP))::DATE,
                            '%Y-%m-%d') AS day,
                   event_type,
                   round(sum(value), 2) AS total_value,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        """)
def q_hierarchical_rollup(spark, sf_dir):
    # Hypertable-style continuous aggregate: the daily rollup is
    # computed FROM the hourly rollup, not from raw events — the
    # two-level materialization pattern that lets a 100 TB store serve
    # coarse queries from pre-aggregated levels. Oracle recomputes the
    # daily level directly from raw rows: sums must agree.
    events = _t(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.sum("value").alias("v"), F.count("*").alias("n"))
    return (
        hourly.groupBy(
            F.date_format(F.to_date("hour"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.round(F.sum("v"), 2).alias("total_value"), F.sum("n").alias("n"))
    )


@key("ext_rollup_revenue", oracle="""
            SELECT n_name, c_mktsegment,
                   GROUPING(n_name, c_mktsegment) AS gid,
                   round(sum(c_acctbal), 2) AS total_bal,
                   count(*) AS n
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY ROLLUP (n_name, c_mktsegment)
        """)
def q_rollup_revenue(spark, sf_dir):
    # Extension (§2.4 note: Spark-native, not in the reference): revenue
    # rollup over (nation, segment) with grouping id to distinguish
    # subtotal rows — one pass, partial+final aggregation per grouping
    # set.
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    return (
        joined.rollup("n_name", "c_mktsegment")
        .agg(
            F.grouping_id("n_name", "c_mktsegment").alias("gid"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
            F.count("*").alias("n"),
        )
        .select("n_name", "c_mktsegment", "gid", "total_bal", "n")
    )


@key("ext_cube_revenue", oracle="""
            SELECT n_name, c_mktsegment,
                   GROUPING(n_name, c_mktsegment) AS gid,
                   round(sum(c_acctbal), 2) AS total_bal,
                   count(*) AS n
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY CUBE (n_name, c_mktsegment)
        """)
def q_cube_revenue(spark, sf_dir):
    # Extension: full CUBE over (nation, segment) — all four grouping
    # sets in one pass (rollup's superset; same partial+final agg per
    # set, one shuffle).
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    return (
        joined.cube("n_name", "c_mktsegment")
        .agg(
            F.grouping_id("n_name", "c_mktsegment").alias("gid"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
            F.count("*").alias("n"),
        )
        .select("n_name", "c_mktsegment", "gid", "total_bal", "n")
    )


@key("ext_grouping_sets", oracle="""
    SELECT n_name, c_mktsegment,
           (CASE WHEN grouping(n_name) = 1 THEN 2 ELSE 0 END
            + CASE WHEN grouping(c_mktsegment) = 1 THEN 1 ELSE 0 END) AS gid,
           round(sum(c_acctbal), 2) AS total_bal,
           count(*) AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
""")
def q_grouping_sets(spark, sf_dir):
    # Extension completing the multi-granularity family: explicit
    # GROUPING SETS — exactly the requested granularities ((nation),
    # (segment), ()) in one pass, no cube superset waste. Same
    # partial+final agg shape as rollup/cube: one shuffle.
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    return (
        joined.groupingSets(
            [["n_name"], ["c_mktsegment"], []], "n_name", "c_mktsegment"
        )
        .agg(
            F.grouping_id("n_name", "c_mktsegment").alias("gid"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
            F.count("*").alias("n"),
        )
        .select("n_name", "c_mktsegment", "gid", "total_bal", "n")
    )


@key("ext_session_window", oracle="""
            -- gaps-and-islands replay of Spark's session_window merge
            -- rule: ordered per key, a row starts a NEW session iff its
            -- gap to the previous row EXCEEDS 30 min — an arrival at
            -- exactly prev+gap still merges (verified against Spark in
            -- tests/test_streaming.py); session end = last event + gap.
            WITH e AS (
                SELECT event_type, CAST(ts AS TIMESTAMP) AS t, value FROM events
            ),
            flagged AS (
                SELECT event_type, t, value,
                       CASE WHEN lag(t) OVER w IS NULL
                              OR t - lag(t) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_sess
                FROM e
                WINDOW w AS (PARTITION BY event_type ORDER BY t)
            ),
            islands AS (
                SELECT event_type, t, value,
                       sum(new_sess) OVER (PARTITION BY event_type ORDER BY t
                                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
            )
            SELECT event_type,
                   epoch_us(min(t)) AS session_start_us,
                   epoch_us(max(t) + INTERVAL 30 MINUTE) AS session_end_us,
                   round(sum(value), 2) AS total_value,
                   count(*) AS n_events
            FROM islands
            GROUP BY event_type, sid
        """)
def q_session_window(spark, sf_dir):
    # Extension (Spark-native session_window; the reference is
    # tumbling-only): per-event-type activity sessions that merge while
    # consecutive events arrive within 30 minutes — session =
    # [min ts, max ts + gap). Bounds emitted as epoch microseconds so
    # the oracle comparison is exact-integer.
    return R.session_stats(
        _t(spark, sf_dir, "events"), "ts", "event_type", "value", gap="30 minutes"
    )


@key("ext_argmax_per_group", oracle="""
            WITH rev AS (
                SELECT l_partkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
                FROM lineitem GROUP BY 1
            ),
            j AS (
                SELECT p_brand, p_name, revenue
                FROM rev JOIN part ON l_partkey = p_partkey
            )
            SELECT p_brand, p_name AS top_part, revenue FROM (
                SELECT p_brand, p_name, revenue,
                       row_number() OVER (PARTITION BY p_brand
                           ORDER BY revenue DESC, p_name DESC) AS rn
                FROM j
            ) WHERE rn = 1
        """)
def q_argmax_part_per_brand(spark, sf_dir):
    # Extension: top-1-per-group via ONE aggregation of a lexicographic
    # struct max (argmax) — no rank window, half the shuffle work of
    # row_number for the k=1 case. Tie-break inside the struct
    # (max revenue, then max name) keeps it deterministic.
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    joined = rev.join(part, rev.l_partkey == part.p_partkey).select(
        "p_brand", "p_name", "revenue"
    )
    m = joined.groupBy("p_brand").agg(F.max(F.struct("revenue", "p_name")).alias("m"))
    return m.select(
        "p_brand",
        F.col("m.p_name").alias("top_part"),
        F.col("m.revenue").alias("revenue"),
    )


@key("ext_user_journeys", oracle="""
            SELECT user_id,
                   count(*) AS n_steps,
                   array_to_string(
                       (list(event_type ORDER BY CAST(ts AS TIMESTAMP), event_id))[1:50],
                       '>') AS journey
            FROM events
            GROUP BY user_id
        """)
def q_user_journeys(spark, sf_dir):
    # Extension: per-user time-ordered event path (sequence feature) —
    # ordering inside the aggregated array, no per-key window scan.
    return R.user_journeys(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type", max_steps=50
    )


@key("ext_funnel", oracle="""
            -- sequential-min formulation of the same strict funnel:
            -- stage k's first event must be strictly after stage k-1's.
            -- (ts are collision-free per user in the corpus, verified,
            -- so strict > equals the engine's (ts,event_id) ordering.)
            WITH e AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_type FROM events
            ),
            v AS (
                SELECT user_id, min(t) AS tv FROM e
                WHERE event_type = 'view' GROUP BY 1
            ),
            c AS (
                SELECT e.user_id, min(t) AS tc FROM e JOIN v USING (user_id)
                WHERE event_type = 'click' AND t > tv GROUP BY 1
            ),
            p AS (
                SELECT e.user_id, min(t) AS tp FROM e JOIN c USING (user_id)
                WHERE event_type = 'purchase' AND t > tc GROUP BY 1
            ),
            u AS (SELECT DISTINCT user_id FROM e),
            s AS (
                SELECT u.user_id,
                       CASE WHEN p.user_id IS NOT NULL THEN 3
                            WHEN c.user_id IS NOT NULL THEN 2
                            WHEN v.user_id IS NOT NULL THEN 1
                            ELSE 0 END AS funnel_stage
                FROM u
                LEFT JOIN v ON u.user_id = v.user_id
                LEFT JOIN c ON u.user_id = c.user_id
                LEFT JOIN p ON u.user_id = p.user_id
            )
            SELECT funnel_stage, count(*) AS n_keys FROM s GROUP BY 1
        """)
def q_funnel(spark, sf_dir):
    # Extension: strict view->click->purchase conversion funnel, the
    # stage machine folded over each user's time-sorted step array.
    return R.funnel_stages(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        stages=["view", "click", "purchase"],
    )


@key("ext_zscore_anomalies", oracle="""
            WITH s AS (
                SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
                FROM events GROUP BY 1
            )
            -- nullif(sd, 0.0) mirrors Spark-side try_divide: constant
            -- keys (sd=0) and single-row keys (sd NULL) flag nothing.
            SELECT event_id, e.event_type, value,
                   round((value - mu) / nullif(sd, 0.0), 4) AS zscore
            FROM events e JOIN s ON e.event_type = s.event_type
            WHERE abs(round((value - mu) / nullif(sd, 0.0), 4)) > 2.5
        """)
def q_zscore_anomalies(spark, sf_dir):
    # Extension: per-event-type z-score outliers (|z| > 2.5) — the
    # numeric-feed drift monitor; stats side broadcast by AQE.
    return R.zscore_anomalies(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id", threshold=2.5
    )


@key("ext_retention", oracle="""
            WITH a AS (
                SELECT DISTINCT user_id,
                       CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 604800) AS BIGINT) AS w
                FROM events
            ),
            c AS (SELECT user_id, min(w) AS cw FROM a GROUP BY 1)
            SELECT c.cw AS cohort_week, a.w - c.cw AS k,
                   count(DISTINCT a.user_id) AS n_users
            FROM a JOIN c ON a.user_id = c.user_id
            GROUP BY 1, 2
        """)
def q_retention(spark, sf_dir):
    # Extension: weekly cohort retention over integer epoch-week indexes
    # (engine-identical arithmetic, no calendar-week ambiguity).
    return R.retention_cohorts(_t(spark, sf_dir, "events"), "user_id", "ts")


@key("ext_moving_average", oracle="""
            WITH e AS (
                SELECT event_id, user_id,
                       CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep,
                       value
                FROM events
            )
            SELECT event_id, user_id, ep,
                   round(avg(value) OVER w, 4) AS trailing_avg,
                   count(*) OVER w AS n_window
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ep
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """)
def q_moving_average(spark, sf_dir):
    # Extension: per-user trailing 1-hour moving average over a
    # time-RANGE frame (row-anchored smoothing; tie-safe because RANGE
    # frames aggregate same-timestamp peers together in both engines).
    return R.moving_average(
        _t(spark, sf_dir, "events"), "ts", "user_id", "value", trailing_sec=3600
    )


@key("ext_quantile_summary", oracle="""
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
                   round(quantile_cont(l_extendedprice, 0.5), 6)  AS p50,
                   round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
                   round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY l_returnflag
        """)
def q_quantile_summary(spark, sf_dir):
    # Extension: exact grouped percentiles (linear interpolation, the
    # percentile_cont definition both engines share) — computed by
    # DISTRIBUTED histogram selection (grouped_quantiles_selection): no
    # task ever buffers a group's values, unlike F.percentile, while
    # the result is bit-identical. ext_quantile_approx exercises the
    # sketch-based variant of the same operator.
    # Rounding at 6dp: interpolated money values have <= 4 decimal
    # digits ((n-1)*p fractions are multiples of 0.05 on 2-dp cents),
    # so 6dp rounding never sits on a halfway value in either engine.
    li = _t(spark, sf_dir, "lineitem")
    return R.grouped_quantiles_selection(
        li, "l_returnflag", "l_extendedprice", [0.25, 0.5, 0.75, 0.95]
    )


@key("ext_quantile_approx", oracle="""
            -- The approx path is rank-bounded, not value-exact: the
            -- oracle states the PROPERTY (every group within bound);
            -- the Spark side computes the actual sketch + rank check.
            SELECT l_returnflag, count(*) AS n_rows, true AS within_bound
            FROM lineitem GROUP BY l_returnflag
        """)
def q_quantile_approx(spark, sf_dir):
    # The exact=False (approx_percentile sketch) path, made
    # oracle-checkable as a PROPERTY: the sketch guarantees the returned
    # element's rank is within n/accuracy of the target rank, so count
    # values <= the approx median and assert the bound. The oracle's
    # expected frame is simply "every group within bound".
    li = _t(spark, sf_dir, "lineitem")
    acc = 1000
    approx = R.grouped_quantiles(
        li, "l_returnflag", "l_extendedprice", [0.5], exact=False, accuracy=acc
    )
    # approx is |groups| rows — broadcast it back over the fact scan.
    joined = li.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(approx), "l_returnflag"
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.sum((F.col("l_extendedprice") <= F.col("p50")).cast("long")).alias(
                "_rank_at"
            ),
            F.first("n_rows").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            # coalesce: non-nullable BOOLEAN for the driver's pandas
            # bridge (None vs NaN); the oracle side is a literal true.
            F.coalesce(
                F.abs(F.col("_rank_at") - 0.5 * F.col("n_rows"))
                <= F.col("n_rows") / acc + 1,
                F.lit(False),
            ).alias("within_bound"),
        )
    )


@key("ext_histogram_2d", oracle="""
            WITH rng AS (
                SELECT min(l_quantity::DOUBLE) AS xlo,
                       max(l_quantity::DOUBLE) AS xhi,
                       min(l_discount::DOUBLE) AS ylo,
                       max(l_discount::DOUBLE) AS yhi
                FROM lineitem
            ),
            binned AS (
                SELECT
                    coalesce(CASE WHEN r.xhi > r.xlo
                        THEN least(9, floor((l.l_quantity - r.xlo)
                               / nullif((r.xhi - r.xlo) / 10, 0))::INT)
                        ELSE 0 END, 0) AS bin_x,
                    coalesce(CASE WHEN r.yhi > r.ylo
                        THEN least(7, floor((l.l_discount - r.ylo)
                               / nullif((r.yhi - r.ylo) / 8, 0))::INT)
                        ELSE 0 END, 0) AS bin_y,
                    r.xlo, r.xhi, r.ylo, r.yhi
                FROM lineitem l CROSS JOIN rng r
            )
            SELECT bin_x, bin_y, count(*) AS n_rows,
                   round(xlo + bin_x * (xhi - xlo) / 10, 6) AS x_lo,
                   round(xlo + (bin_x + 1) * (xhi - xlo) / 10, 6) AS x_hi,
                   round(ylo + bin_y * (yhi - ylo) / 8, 6) AS y_lo,
                   round(ylo + (bin_y + 1) * (yhi - ylo) / 8, 6) AS y_hi
            FROM binned
            GROUP BY bin_x, bin_y, xlo, xhi, ylo, yhi
            ORDER BY bin_x, bin_y
        """)
def q_histogram_2d(spark, sf_dir):
    # Density heatmap: quantity x discount cell counts, broadcast
    # bounds + map-side binning (relational.py:histogram_2d).
    return R.histogram_2d(
        _t(spark, sf_dir, "lineitem"),
        "l_quantity",
        "l_discount",
        bins_x=10,
        bins_y=8,
    )


@key("ext_grouped_ols", oracle="""
            WITH m AS (
                SELECT l_returnflag, avg(l_extendedprice) AS my,
                       avg(l_quantity) AS m1, avg(l_discount) AS m2,
                       count(*) AS n_rows
                FROM lineitem GROUP BY l_returnflag
            ),
            s AS (
                SELECT l.l_returnflag, m.my, m.m1, m.m2, m.n_rows,
                       sum((l.l_quantity - m.m1) * (l.l_quantity - m.m1))
                           AS s11,
                       sum((l.l_discount - m.m2) * (l.l_discount - m.m2))
                           AS s22,
                       sum((l.l_quantity - m.m1) * (l.l_discount - m.m2))
                           AS s12,
                       sum((l.l_quantity - m.m1)
                           * (l.l_extendedprice - m.my)) AS s1y,
                       sum((l.l_discount - m.m2)
                           * (l.l_extendedprice - m.my)) AS s2y,
                       sum((l.l_extendedprice - m.my)
                           * (l.l_extendedprice - m.my)) AS syy
                FROM lineitem l JOIN m USING (l_returnflag)
                GROUP BY l.l_returnflag, m.my, m.m1, m.m2, m.n_rows
            ),
            b AS (
                SELECT *,
                       (s1y * s22 - s2y * s12)
                           / nullif(s11 * s22 - s12 * s12, 0) AS b1,
                       (s2y * s11 - s1y * s12)
                           / nullif(s11 * s22 - s12 * s12, 0) AS b2
                FROM s
            )
            SELECT l_returnflag,
                   round(my - b1 * m1 - b2 * m2, 6) AS b0,
                   round(b1, 6) AS b1, round(b2, 6) AS b2,
                   round(1.0::DOUBLE - (syy - b1 * s1y - b2 * s2y)
                         / nullif(syy, 0), 6) AS r2,
                   n_rows
            FROM b
            ORDER BY l_returnflag
        """)
def q_grouped_ols(spark, sf_dir):
    # Closed-form grouped OLS: price ~ quantity + discount per
    # returnflag, centered sufficient statistics + Cramer solve, all
    # column algebra (relational.py:grouped_ols).
    return R.grouped_ols(
        _t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        "l_discount",
    )


@key("ext_bootstrap_ci", oracle="""
            WITH reps AS (
                -- one md5 per (row, block of 4); each replicate reads
                -- its own 8-hex segment (mirrors bootstrap_mean_ci)
                SELECT e.event_type, e.event_id, e.value,
                       b.range * 4 + s.range AS r,
                       substr(md5(e.event_id::VARCHAR || ':' || b.range),
                              1 + 8 * s.range, 8) AS h
                FROM events e, range(25) b, range(4) s
            ),
            weighted AS (
                SELECT event_type, r, value,
                       CASE
                           WHEN h < '5e2d58d9' THEN 0
                           WHEN h < 'bc5ab1b1' THEN 1
                           WHEN h < 'eb715e1e' THEN 2
                           WHEN h < 'fb239797' THEN 3
                           WHEN h < 'ff1025f6' THEN 4
                           WHEN h < 'ffd90f3c' THEN 5
                           WHEN h < 'fffa8b72' THEN 6
                           WHEN h < 'ffff540c' THEN 7
                           ELSE 8
                       END AS w
                FROM reps
            ),
            rep_means AS (
                SELECT event_type, r,
                       round(sum(w * value) / nullif(sum(w), 0), 6) AS m
                FROM weighted GROUP BY event_type, r
            ),
            ci AS (
                SELECT event_type,
                       list_sort(list(m) FILTER (m IS NOT NULL)) AS ms,
                       count(m) AS n_used
                FROM rep_means GROUP BY event_type
            ),
            base AS (
                SELECT event_type, round(avg(value), 6) AS mean
                FROM events GROUP BY event_type
            )
            SELECT ci.event_type, base.mean,
                   ms[greatest(1, ceil(0.025 * len(ms))::INT)] AS ci_lo,
                   ms[ceil(0.975 * len(ms))::INT] AS ci_hi,
                   n_used
            FROM ci JOIN base USING (event_type)
            ORDER BY ci.event_type
        """)
def q_bootstrap_ci(spark, sf_dir):
    # Deterministic Poissonized bootstrap: 95% CI for the per-type mean
    # event value, 100 md5-seeded replicates, nearest-rank cut of the
    # sorted replicate means (relational.py:bootstrap_mean_ci).
    return R.bootstrap_mean_ci(
        _t(spark, sf_dir, "events"),
        "event_type",
        "value",
        "event_id",
        n_replicates=100,
    )


@key("ext_pivot_revenue", oracle="""
            SELECT o_orderpriority,
                   coalesce(round(sum(CASE WHEN o_orderstatus = 'F'
                                           THEN o_totalprice END), 2),
                            0.0::DOUBLE) AS "F",
                   coalesce(round(sum(CASE WHEN o_orderstatus = 'O'
                                           THEN o_totalprice END), 2),
                            0.0::DOUBLE) AS "O",
                   coalesce(round(sum(CASE WHEN o_orderstatus = 'P'
                                           THEN o_totalprice END), 2),
                            0.0::DOUBLE) AS "P"
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """)
def q_pivot_revenue(spark, sf_dir):
    # Wide pivot with a DECLARED value list -> one conditional-agg pass,
    # stable schema, no distinct pre-scan (relational.py:pivot_metric).
    return R.pivot_metric(
        _t(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_orderstatus",
        "o_totalprice",
        ["F", "O", "P"],
    )


@key("ext_unpivot_profile", oracle="""
            WITH per_order AS (
                SELECT l_orderkey,
                       round(sum(l_quantity), 1) AS qty,
                       round(sum(l_extendedprice), 2) AS price,
                       round(sum(l_discount), 3) AS discount
                FROM lineitem WHERE l_orderkey <= 100
                GROUP BY l_orderkey
            )
            SELECT l_orderkey, 'qty' AS metric, qty AS value FROM per_order
            UNION ALL
            SELECT l_orderkey, 'price', price FROM per_order
            UNION ALL
            SELECT l_orderkey, 'discount', discount FROM per_order
            ORDER BY l_orderkey, metric
        """)
def q_unpivot_profile(spark, sf_dir):
    # Melt the per-order numeric columns into tidy (id, metric, value)
    # rows — map-only stack, no shuffle (relational.py:unpivot_metrics).
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return R.unpivot_metrics(
        li.groupBy("l_orderkey").agg(
            F.round(F.sum("l_quantity"), 1).alias("qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("price"),
            F.round(F.sum("l_discount"), 3).alias("discount"),
        ),
        "l_orderkey",
        ["qty", "price", "discount"],
    )


@key("ext_correlation_matrix", oracle="""
            WITH a AS (
                SELECT
                    round(corr(l_quantity, l_extendedprice), 6) AS c1,
                    round(corr(l_quantity, l_discount), 6) AS c2,
                    round(corr(l_quantity, l_tax), 6) AS c3,
                    round(corr(l_extendedprice, l_discount), 6) AS c4,
                    round(corr(l_extendedprice, l_tax), 6) AS c5,
                    round(corr(l_discount, l_tax), 6) AS c6
                FROM lineitem
            )
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                   c1 AS corr FROM a
            UNION ALL SELECT 'l_quantity', 'l_discount', c2 FROM a
            UNION ALL SELECT 'l_quantity', 'l_tax', c3 FROM a
            UNION ALL SELECT 'l_extendedprice', 'l_discount', c4 FROM a
            UNION ALL SELECT 'l_extendedprice', 'l_tax', c5 FROM a
            UNION ALL SELECT 'l_discount', 'l_tax', c6 FROM a
            ORDER BY col_a, col_b
        """)
def q_correlation_matrix(spark, sf_dir):
    # Pairwise Pearson over the lineitem numerics in ONE aggregation
    # pass (relational.py:correlation_matrix).
    return R.correlation_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


@key("ext_gapfill", oracle="""
            WITH actual AS (
                SELECT event_type,
                       CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400)
                            AS BIGINT) AS bucket,
                       round(avg(value), 6) AS observed
                FROM events WHERE value > 95
                GROUP BY 1, 2
            ),
            bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi
                       FROM actual),
            grid AS (
                SELECT k.event_type, unnest(range(lo, hi + 1)) AS bucket
                FROM (SELECT DISTINCT event_type FROM actual) k
                CROSS JOIN bounds
            ),
            g AS (
                SELECT grid.event_type, grid.bucket, a.observed
                FROM grid LEFT JOIN actual a
                  USING (event_type, bucket)
            ),
            w AS (
                SELECT event_type, bucket, observed,
                       last_value(observed IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS vp,
                       last_value(CASE WHEN observed IS NOT NULL
                                       THEN bucket END IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS tp,
                       first_value(observed IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                       ) AS vn,
                       first_value(CASE WHEN observed IS NOT NULL
                                        THEN bucket END IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                       ) AS tn
                FROM g
            )
            SELECT event_type, bucket, observed,
                   coalesce(observed,
                            round(vp + (vn - vp)
                                  * ((bucket - tp)::DOUBLE
                                     / nullif((tn - tp)::DOUBLE, 0)), 6),
                            vp, vn) AS filled,
                   CASE WHEN observed IS NOT NULL THEN 'observed'
                        WHEN tp IS NOT NULL AND tn IS NOT NULL
                             THEN 'interpolated'
                        WHEN tp IS NOT NULL THEN 'locf'
                        ELSE 'backfill' END AS method
            FROM w
            ORDER BY event_type, bucket
        """)
def q_gapfill(spark, sf_dir):
    # Hypertable-style time_bucket_gapfill: daily per-type averages of
    # the SPARSE high-value events (value > 95 keeps ~2% of rows, so
    # real gaps exist), linear interpolation between neighbors, LOCF /
    # backfill on the open ends (relational.py:time_bucket_gapfill).
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 95)
    return R.time_bucket_gapfill(
        ev, "event_type", "ts", "value", bucket_seconds=86400
    )


@key("ext_entity_blocking", oracle="""
    WITH ok AS (
        SELECT c_nationkey, c_mktsegment
        FROM customer GROUP BY 1, 2 HAVING count(*) <= 256
    ),
    c AS (
        SELECT customer.* FROM customer
        JOIN ok USING (c_nationkey, c_mktsegment)
    )
    SELECT a.c_nationkey, a.c_mktsegment,
           a.c_custkey AS id_a, b.c_custkey AS id_b,
           levenshtein(a.c_name, b.c_name) AS distance
    FROM c a JOIN c b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
""")
def q_entity_blocking(spark, sf_dir):
    # Entity-resolution candidates (relational.py:blocked_similarity_
    # pairs): customers in the same (nation, segment) block whose names
    # differ by <= 2 edits, with a 256-record hot-block guard.
    return R.blocked_similarity_pairs(
        _t(spark, sf_dir, "customer"),
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
        max_distance=2,
        max_block=256,
    )


@key("ext_event_transitions", oracle="""
    WITH nxt AS (
        SELECT event_type AS from_step,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_step
        FROM events
    ),
    counts AS (
        SELECT from_step, to_step, count(*) AS n_transitions
        FROM nxt WHERE to_step IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_step, to_step, n_transitions,
           ((n_transitions * 10000 * 2
             + sum(n_transitions) OVER (PARTITION BY from_step))
            // (2 * sum(n_transitions) OVER (PARTITION BY from_step))
           )::BIGINT AS p_e4
    FROM counts
""")
def q_event_transitions(spark, sf_dir):
    # First-order Markov transition matrix over per-user event
    # sequences (relational.py:event_transitions): every (from -> to)
    # event-type pair with corpus count and P(to|from).
    ev = _t(spark, sf_dir, "events")
    return R.event_transitions(ev, "user_id", "ts", "event_type")


def _sql_zorder_profile() -> str:
    """DuckDB oracle for q_zorder_profile: the same quantize+interleave
    emitted as explicit shift/mask terms (integer-exact, order-free)."""
    terms = []
    for i in range(16):
        terms.append(f"(((q0 >> {i}) & 1) << {2 * i})")
        terms.append(f"(((q1 >> {i}) & 1) << {2 * i + 1})")
    chain = " + ".join(terms)
    return f"""
        WITH s AS (
            SELECT min(l_partkey) AS mn0, max(l_partkey) AS mx0,
                   min(l_suppkey) AS mn1, max(l_suppkey) AS mx1
            FROM lineitem
        ),
        q AS (
            SELECT ((l_partkey - mn0) * 65536) // (mx0 - mn0 + 1) AS q0,
                   ((l_suppkey - mn1) * 65536) // (mx1 - mn1 + 1) AS q1
            FROM lineitem CROSS JOIN s
        ),
        z AS (SELECT {chain} AS zval FROM q)
        SELECT zval >> 24 AS z_bucket, count(*) AS n_rows,
               min(zval) AS z_min, max(zval) AS z_max
        FROM z GROUP BY 1 ORDER BY 1
    """


@key("ext_zorder_profile", oracle=_sql_zorder_profile)
def q_zorder_profile(spark, sf_dir):
    # Z-order (Morton) clustering key over (l_partkey, l_suppkey):
    # integer-quantize each against its observed min/max, interleave 16
    # bits of each, profile the 256 top-8-bit clusters. This is the key
    # `catalog.write_zordered` range-sorts files by — at 100 TB the
    # profile IS the file-skipping story: every cluster is a tight box
    # in (partkey, suppkey) space, so footer stats prune scans on
    # EITHER column. Pure integer bit math -> bit-exact across engines.
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    stats = li.agg(
        F.min("l_partkey").alias("_mn0"),
        F.max("l_partkey").alias("_mx0"),
        F.min("l_suppkey").alias("_mn1"),
        F.max("l_suppkey").alias("_mx1"),
    )
    q0 = F.expr("((l_partkey - _mn0) * 65536) DIV (_mx0 - _mn0 + 1)")
    q1 = F.expr("((l_suppkey - _mn1) * 65536) DIV (_mx1 - _mn1 + 1)")
    z = zorder_key([q0, q1], bits=16)
    return (
        li.crossJoin(F.broadcast(stats))
        .select(z.alias("_z"))
        .groupBy(F.shiftright("_z", 24).alias("z_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("_z").alias("z_min"),
            F.max("_z").alias("z_max"),
        )
        .orderBy("z_bucket")
    )


@key("ext_table_profile", oracle="""
            SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
                   sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
                   count(DISTINCT o_orderkey) AS n_distinct,
                   round(min(o_orderkey), 4)::DOUBLE AS min_value,
                   round(max(o_orderkey), 4)::DOUBLE AS max_value
            FROM orders
            UNION ALL
            SELECT 'o_custkey', count(*),
                   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT o_custkey),
                   round(min(o_custkey), 4)::DOUBLE,
                   round(max(o_custkey), 4)::DOUBLE
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', count(*),
                   sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT o_orderstatus),
                   NULL::DOUBLE, NULL::DOUBLE
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', count(*),
                   sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT o_totalprice),
                   round(min(o_totalprice), 4)::DOUBLE,
                   round(max(o_totalprice), 4)::DOUBLE
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', count(*),
                   sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT o_orderpriority),
                   NULL::DOUBLE, NULL::DOUBLE
            FROM orders
        """)
def q_table_profile(spark, sf_dir):
    # One-scan data-quality profile of orders: per-column nulls,
    # distincts, numeric ranges (approx_count_distinct path available
    # for wide tables; exact kept for the oracle).
    return R.table_profile(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )


@key("ext_value_histogram", oracle="""
            WITH rng AS (
                SELECT l_returnflag,
                       min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
                FROM lineitem GROUP BY l_returnflag
            ),
            binned AS (
                SELECT l.l_returnflag, l.l_extendedprice,
                       coalesce(CASE WHEN r.hi > r.lo
                            THEN least(9, floor((l.l_extendedprice - r.lo)
                                   / nullif((r.hi - r.lo) / 10, 0))::INT)
                            ELSE 0 END, 0) AS bin
                FROM lineitem l JOIN rng r USING (l_returnflag)
            )
            SELECT l_returnflag, bin, count(*) AS n_rows,
                   round(min(l_extendedprice), 2) AS bin_min,
                   round(max(l_extendedprice), 2) AS bin_max,
                   round(avg(l_extendedprice), 4) AS bin_avg
            FROM binned
            GROUP BY l_returnflag, bin
            ORDER BY l_returnflag, bin
        """)
def q_value_histogram(spark, sf_dir):
    # Equi-width price histogram per return flag: the scalable
    # distribution profile (min/max broadcast + map-side binning) where
    # ntile's equal-count bins would need a per-group sort.
    return R.value_histogram(
        _t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice", bins=10
    )


@key("ext_set_partition", oracle="""
            WITH a AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderpriority = '1-URGENT'),
            b AS (SELECT DISTINCT o_custkey FROM orders
                  WHERE o_totalprice > 200000.0)
            SELECT 'both' AS tag, o_custkey FROM (
                SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
            UNION ALL
            SELECT 'urgent_only', o_custkey FROM (
                SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
            UNION ALL
            SELECT 'highvalue_only', o_custkey FROM (
                SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
        """)
def q_set_partition(spark, sf_dir):
    # §2.7 set operations: urgent-order customers vs high-value-order
    # customers partitioned into both / urgent-only / highvalue-only.
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    high = orders.filter(F.col("o_totalprice") > 200000.0)
    return R.tagged_set_partition(
        urgent, high, "o_custkey", tag_a="urgent_only", tag_b="highvalue_only"
    )


@key("ext_hll_distinct", oracle="""
            SELECT o_orderpriority,
                   count(DISTINCT o_orderstatus) AS n_subgroups,
                   count(DISTINCT o_custkey)     AS exact_distinct,
                   true                          AS estimate_ok
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """)
def q_hll_distinct(spark, sf_dir):
    # Mergeable-sketch distinct rollup: per-(priority,status) HLL
    # sketches unioned to per-priority estimates, bound-checked against
    # the exact count (the exact side exists only for this gate).
    return R.hll_distinct_rollup(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus", "o_custkey"
    )


@key("ext_key_skew_profile", oracle="""
            WITH c AS (
                SELECT l_suppkey, count(*) AS key_rows
                FROM lineitem GROUP BY l_suppkey
            ),
            m AS (SELECT sum(key_rows) AS total, avg(key_rows) AS mean FROM c)
            SELECT l_suppkey, key_rows,
                   round(key_rows / m.total, 6) AS row_share,
                   round(key_rows / m.mean, 4)  AS skew_ratio
            FROM c, m
            ORDER BY key_rows DESC, l_suppkey
            LIMIT 15
        """)
def q_key_skew_profile(spark, sf_dir):
    # Shuffle-planning diagnostic: top-15 heaviest l_suppkey values
    # with row share and skew ratio vs the mean key.
    return R.key_skew_profile(_t(spark, sf_dir, "lineitem"), "l_suppkey", top_n=15)


@key("ext_window_suite", oracle="""
            WITH b AS (
                SELECT user_id, event_id,
                       cast(round(value * 100) as bigint)
                       - lag(cast(round(value * 100) as bigint), 1) OVER w
                           AS value_delta_cents,
                       lead(event_type, 1) OVER w AS next_type,
                       ntile(4) OVER w AS quartile,
                       row_number() OVER w AS rn,
                       count(*) OVER (PARTITION BY user_id) AS n
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC)
            )
            SELECT user_id, event_id, value_delta_cents, next_type,
                   quartile,
                   (CASE WHEN n > 1 THEN
                        ((rn - 1) * 1000000000 * 2 + (n - 1))
                        // (2 * (n - 1))
                    ELSE 0 END)::BIGINT AS pct_rank_e9,
                   ((rn * 1000000000 * 2 + n) // (2 * n))::BIGINT AS cume_e9
            FROM b
        """)
def q_window_suite(spark, sf_dir):
    # Full analytic-window family in ONE per-key pass (lag, lead,
    # ntile, percent_rank, cume_dist share a single Window spec ->
    # one shuffle + one sort).
    return R.window_rank_suite(_t(spark, sf_dir, "events"))


@key("ext_set_compare", oracle="""
            SELECT
                (SELECT count(*) FROM (
                    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
                    INTERSECT
                    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
                )) AS n_both,
                (SELECT count(*) FROM (
                    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
                    EXCEPT
                    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
                )) AS n_only_a,
                (SELECT count(*) FROM (
                    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
                    EXCEPT
                    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
                )) AS n_only_b,
                (SELECT count(DISTINCT o_custkey) FROM orders
                 WHERE year(o_orderdate) IN (1995, 1996)) AS n_union
        """)
def q_set_compare(spark, sf_dir):
    # §2.7 set ops: customers active in 1995 vs 1996 — intersect /
    # except / union distinct-set cardinalities in one summary row.
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    b = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return R.set_compare(a, b)


@key("ext_ewma_smooth", oracle="""
            WITH e AS (
                SELECT user_id, ts, event_id, value,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS rn
                FROM events WHERE value IS NOT NULL
            )
            SELECT a.user_id, a.event_id, a.ts, a.value,
                   round(sum(b.value * power(0.7, a.rn - b.rn))
                         / ((1 - power(0.7, least(a.rn, 16))) / 0.3),
                         6) AS ewma
            FROM e a JOIN e b
              ON a.user_id = b.user_id
             AND b.rn BETWEEN a.rn - 15 AND a.rn
            GROUP BY a.user_id, a.event_id, a.ts, a.value, a.rn
        """)
def q_ewma_smooth(spark, sf_dir):
    # Per-user bounded-lookback EWMA of event values: one key shuffle,
    # weighted sum as zip_with+aggregate over the rows-window frame,
    # closed-form normalizer (relational.py:ewma_smooth).
    ev = _t(spark, sf_dir, "events")
    return R.ewma_smooth(
        ev, "user_id", "ts", "value", "event_id", alpha=0.3, lookback=16
    )


@key("ext_duplicate_events", oracle="""
            SELECT DISTINCT a.user_id, a.event_type,
                   least(a.event_id, b.event_id) AS id_a,
                   greatest(a.event_id, b.event_id) AS id_b,
                   ((abs(epoch_us(b.ts) - epoch_us(a.ts)) * 2 + 1000)
                    // 2000)::BIGINT AS gap_ms
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = b.event_type
             AND a.event_id < b.event_id
             AND abs(epoch_us(b.ts) - epoch_us(a.ts)) < 600000000
        """)
def q_duplicate_events(spark, sf_dir):
    # Replay/double-submit detector: same user firing the same event
    # type twice within 10 minutes — bounded bucket-expansion interval
    # join, never a per-key cross join
    # (relational.py:duplicate_events).
    return R.duplicate_events(
        _t(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_type",
        "event_id",
        within_sec=600.0,
    )


@key("ext_funnel_step_times", oracle="""
            WITH ev AS (
                SELECT user_id, event_type,
                       struct_pack(t := epoch_us(ts), i := event_id) AS st
                FROM events
            ),
            s1 AS (
                SELECT user_id, min(st) AS r1
                FROM ev WHERE event_type = 'view' GROUP BY 1
            ),
            s2 AS (
                SELECT e.user_id, min(st) AS r2
                FROM ev e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND st > r1
                GROUP BY 1
            ),
            s3 AS (
                SELECT e.user_id, min(st) AS r3
                FROM ev e JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND st > r2
                GROUP BY 1
            ),
            d AS (
                SELECT 'view->click' AS step_pair, (r2.t - r1.t) AS d
                FROM s1 JOIN s2 USING (user_id)
                UNION ALL
                SELECT 'click->purchase', (r3.t - r2.t)
                FROM s2 JOIN s3 USING (user_id)
            )
            SELECT step_pair, count(*) AS n_converted,
                   ((sum(d) * 2 + 1000 * count(*))
                    // (2000 * count(*)))::BIGINT AS avg_ms,
                   cast(round(quantile_cont(d, 0.5) * 2) as bigint)
                       AS p50_us_x2
            FROM d GROUP BY 1
        """)
def q_funnel_step_times(spark, sf_dir):
    # Time-to-convert between funnel stages: the funnel fold extended
    # to carry reach timestamps; exact medians via distributed
    # selection (relational.py:funnel_step_times).
    return R.funnel_step_times(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        stages=["view", "click", "purchase"],
    )


@key("ext_seasonal_profile", oracle="""
            WITH cells AS (
                SELECT event_type, hour(ts) AS hour_of_day,
                       count(*) AS n_rows,
                       sum(cast(round(value * 100) as bigint)) AS sh,
                       sum(cast(round(value * 100) as bigint)
                           * cast(round(value * 100) as bigint)) AS sh2
                FROM events WHERE value IS NOT NULL
                GROUP BY 1, 2
            ),
            o AS (
                SELECT event_type,
                       sum(n_rows) AS ng, sum(sh) AS sg, sum(sh2) AS sg2
                FROM cells GROUP BY 1
            )
            SELECT c.event_type, hour_of_day, n_rows,
                   ((CASE WHEN sh * ng - sg * n_rows < 0 THEN -1 ELSE 1 END)
                    * ((abs(sh * ng - sg * n_rows) * 100 * 2
                        + n_rows * ng) // (2 * n_rows * ng)))::BIGINT
                       AS seasonal_offset_e4,
                   CASE WHEN (sg2 * ng - sg * sg) * n_rows * n_rows > 0
                        THEN (1000000
                              - ((sh2 * n_rows - sh * sh) * ng * ng
                                 * 1000000 * 2
                                 + (sg2 * ng - sg * sg) * n_rows * n_rows)
                                // (2 * (sg2 * ng - sg * sg)
                                    * n_rows * n_rows))::BIGINT
                   END AS hour_explains_e6
            FROM cells c JOIN o ON c.event_type = o.event_type
        """)
def q_seasonal_profile(spark, sf_dir):
    # Hour-of-day load shape per event type: seasonal offsets from the
    # type mean + per-hour variance explained; two combinable
    # aggregations (relational.py:seasonal_profile).
    return R.seasonal_profile(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value"
    )


@key("ext_ab_test", oracle="""
            WITH agg AS (
                SELECT event_type, count(*) AS n,
                       sum((value > 60)::INT) AS c
                FROM events WHERE event_type IN ('click', 'view')
                GROUP BY 1
            ),
            j AS (
                SELECT a.n AS n_a, a.c AS c_a, b.n AS n_b, b.c AS c_b
                FROM (SELECT * FROM agg WHERE event_type = 'click') a
                CROSS JOIN (SELECT * FROM agg WHERE event_type = 'view') b
            ),
            st AS (
                SELECT n_a, n_b, c_a, c_b,
                       c_a / n_a::DOUBLE AS pa,
                       c_b / n_b::DOUBLE AS pb,
                       (c_a + c_b) / (n_a + n_b)::DOUBLE AS pool
                FROM j
            ),
            zt AS (
                SELECT *,
                       (pa - pb)
                       / sqrt(pool * (1 - pool)
                              * (1.0 / n_a + 1.0 / n_b)) AS z
                FROM st
            ),
            pv AS (
                SELECT *,
                       1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t_
                FROM zt
            )
            SELECT 'click' AS group_a, 'view' AS group_b, n_a, n_b,
                   ((c_a * 1000000 * 2 + n_a) // (2 * n_a))::BIGINT
                       AS rate_a_e6,
                   ((c_b * 1000000 * 2 + n_b) // (2 * n_b))::BIGINT
                       AS rate_b_e6,
                   ((CASE WHEN c_a * n_b - c_b * n_a < 0 THEN -1 ELSE 1 END)
                    * ((abs(c_a * n_b - c_b * n_a) * 1000000 * 2
                        + n_a * n_b) // (2 * n_a * n_b)))::BIGINT AS lift_e6,
                   round(z, 6) AS z,
                   round((t_ * (0.254829592 + t_ * (-0.284496736
                         + t_ * (1.421413741 + t_ * (-1.453152027
                         + t_ * 1.061405429)))))
                         * exp(-(abs(z) / sqrt(2.0))
                               * (abs(z) / sqrt(2.0))), 6) AS p_value
            FROM pv
        """)
def q_ab_test(spark, sf_dir):
    # Two-proportion z-test: does 'click' convert (value > 60) at a
    # different rate than 'view'? Closed-form from one aggregation;
    # erfc p-value via shared A-S 7.1.26 constants
    # (relational.py:ab_test_proportions).
    ev = _t(spark, sf_dir, "events")
    return R.ab_test_proportions(
        ev, "event_type", F.col("value") > 60, "click", "view"
    )


@key("ext_kaplan_meier", oracle="""
            WITH pu AS (
                SELECT user_id,
                       min(epoch_us(ts)) AS f,
                       max(epoch_us(ts)) AS l,
                       min(CASE WHEN event_type = 'error'
                                THEN epoch_us(ts) END) AS e
                FROM events GROUP BY 1
            ),
            spans AS (
                SELECT ((coalesce(e, l) - f) // 86400000000)::INT AS t,
                       (e IS NOT NULL) AS errored
                FROM pu
            ),
            per_t AS (
                SELECT t, count(*) AS total,
                       sum(errored::INT) AS n_events
                FROM spans GROUP BY 1
            ),
            grid AS (
                SELECT t, n_events,
                       sum(total) OVER ()
                       - coalesce(sum(total) OVER (
                             ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS n_at_risk
                FROM per_t
            ),
            stepped AS (
                SELECT t, n_at_risk, n_events,
                       CASE WHEN min(1.0 - n_events / n_at_risk::DOUBLE)
                                 OVER (ORDER BY t
                                       ROWS UNBOUNDED PRECEDING) <= 0
                            THEN NULL
                            ELSE sum(CASE WHEN 1.0 - n_events
                                               / n_at_risk::DOUBLE > 0
                                     THEN cast(round(ln(1.0 - n_events
                                              / n_at_risk::DOUBLE)
                                              * 1000000000000) as bigint)
                                     ELSE 0 END)
                                 OVER (ORDER BY t
                                       ROWS UNBOUNDED PRECEDING)
                       END AS ls
                FROM grid
            )
            SELECT t AS duration_days, n_at_risk::BIGINT AS n_at_risk,
                   n_events::BIGINT AS n_events,
                   ls::BIGINT AS log_survival_e12
            FROM stepped WHERE n_events > 0
        """)
def q_kaplan_meier(spark, sf_dir):
    # Time-to-first-error survival per user: duration = days from the
    # user's first event to their first 'error' (observed) or to their
    # last event (censored — no error yet). The KM product runs in log
    # domain on the distinct-duration grid (relational.py:kaplan_meier).
    from streaming_demos_spark.functions.scalars import epoch_us

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(epoch_us(F.col("ts"))).alias("_first"),
        F.max(epoch_us(F.col("ts"))).alias("_last"),
        F.min(
            F.when(F.col("event_type") == "error", epoch_us(F.col("ts")))
        ).alias("_err"),
    )
    spans = per_user.select(
        (
            (F.coalesce(F.col("_err"), F.col("_last")) - F.col("_first"))
            / F.lit(86400 * 1000000)
        ).cast("int").alias("duration_days"),
        F.col("_err").isNotNull().alias("errored"),
    )
    return R.kaplan_meier(spans, "duration_days", "errored")


@key("ext_nelson_aalen", oracle="""
            WITH pu AS (
                SELECT user_id,
                       min(epoch_us(ts)) AS f,
                       max(epoch_us(ts)) AS l,
                       min(CASE WHEN event_type = 'error'
                                THEN epoch_us(ts) END) AS e
                FROM events GROUP BY 1
            ),
            spans AS (
                SELECT ((coalesce(e, l) - f) // 86400000000)::INT AS t,
                       (e IS NOT NULL) AS errored
                FROM pu
            ),
            per_t AS (
                SELECT t, count(*) AS total,
                       sum(errored::INT) AS n_events
                FROM spans GROUP BY 1
            ),
            grid AS (
                SELECT t, n_events,
                       sum(total) OVER ()
                       - coalesce(sum(total) OVER (
                             ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS n_at_risk
                FROM per_t
            ),
            h AS (
                -- half-up ppm increment, pure BIGINT (build-portable);
                -- integer running sum = exact cumulative hazard in ppm
                SELECT t, n_at_risk, n_events,
                       sum((2 * n_events::BIGINT * 1000000 + n_at_risk)
                           // (2 * n_at_risk))
                           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                           AS ch_ppm
                FROM grid
            )
            SELECT t AS duration_days, n_at_risk::BIGINT AS n_at_risk,
                   n_events::BIGINT AS n_events,
                   ch_ppm::BIGINT AS cum_hazard_ppm
            FROM h WHERE n_events > 0
            ORDER BY duration_days
        """)
def q_nelson_aalen(spark, sf_dir):
    # Cumulative-hazard companion to the KM curve, same time-to-first-
    # error spans, additive running sum on the distinct-duration grid
    # (relational.py:nelson_aalen).
    from streaming_demos_spark.functions.scalars import epoch_us

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(epoch_us(F.col("ts"))).alias("_first"),
        F.max(epoch_us(F.col("ts"))).alias("_last"),
        F.min(
            F.when(F.col("event_type") == "error", epoch_us(F.col("ts")))
        ).alias("_err"),
    )
    spans = per_user.select(
        (
            (F.coalesce(F.col("_err"), F.col("_last")) - F.col("_first"))
            / F.lit(86400 * 1000000)
        ).cast("int").alias("duration_days"),
        F.col("_err").isNotNull().alias("errored"),
    )
    return R.nelson_aalen(spans, "duration_days", "errored")


@key("ext_association_rules", oracle="""
            WITH items AS (
                SELECT DISTINCT l_orderkey AS bk, p_brand AS it
                FROM lineitem JOIN part ON l_partkey = p_partkey
            ),
            tot AS (SELECT count(DISTINCT bk) AS nb FROM items),
            cnt AS (SELECT it, count(*) AS c FROM items GROUP BY 1),
            pairs AS (
                SELECT a.it AS item_a, b.it AS item_b,
                       count(*) AS pair_n
                FROM items a
                JOIN items b ON a.bk = b.bk AND a.it <> b.it
                GROUP BY 1, 2
            ),
            rules AS (
                SELECT item_a, item_b, pair_n,
                       ((pair_n * 1000000 * 2 + nb)
                        // (2 * nb))::BIGINT AS support_e6,
                       ((pair_n * 1000000 * 2 + ca.c)
                        // (2 * ca.c))::BIGINT AS confidence_e6,
                       ((pair_n * nb * 1000000 * 2 + ca.c * cb.c)
                        // (2 * ca.c * cb.c))::BIGINT AS lift_e6
                FROM pairs
                JOIN cnt ca ON pairs.item_a = ca.it
                JOIN cnt cb ON pairs.item_b = cb.it
                CROSS JOIN tot
            )
            SELECT item_a, item_b, pair_n,
                   support_e6, confidence_e6, lift_e6
            FROM rules
            ORDER BY lift_e6 DESC, item_a, item_b
            LIMIT 20
        """)
def q_association_rules(spark, sf_dir):
    # Frequently-bought-together: directional brand pair rules per
    # order, ranked by lift (relational.py:association_rules). The
    # basket self-join co-locates by order key; item marginals ride a
    # broadcast.
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_orderkey", "p_brand")
    return R.association_rules(baskets, "l_orderkey", "p_brand", top_n=20)


@key("ext_rfm_segmentation", oracle="""
            WITH per_c AS (
                SELECT o_custkey,
                       max(o_orderdate) AS last_o,
                       count(*) AS freq,
                       round(sum(o_totalprice), 2) AS money
                FROM orders GROUP BY 1
            ),
            ref AS (SELECT max(last_o) AS r FROM per_c),
            rfm AS (
                SELECT date_diff('day', last_o::DATE, r::DATE) AS rec,
                       freq, money
                FROM per_c CROSS JOIN ref
            ),
            q AS (
                -- boundaries rounded at 6dp to mirror the Spark
                -- selection operator's round_dp=6 output
                SELECT list_transform(
                           quantile_cont(rec, [0.25, 0.5, 0.75]),
                           x -> round(x, 6)) AS qr,
                       list_transform(
                           quantile_cont(freq, [0.25, 0.5, 0.75]),
                           x -> round(x, 6)) AS qf,
                       list_transform(
                           quantile_cont(money, [0.25, 0.5, 0.75]),
                           x -> round(x, 6)) AS qm
                FROM rfm
            ),
            scored AS (
                SELECT (5 - (1 + (rec > qr[1])::INT + (rec > qr[2])::INT
                             + (rec > qr[3])::INT)) AS r_score,
                       (1 + (freq > qf[1])::INT + (freq > qf[2])::INT
                        + (freq > qf[3])::INT) AS f_score,
                       (1 + (money > qm[1])::INT + (money > qm[2])::INT
                        + (money > qm[3])::INT) AS m_score,
                       money
                FROM rfm CROSS JOIN q
            )
            SELECT r_score, f_score, m_score,
                   count(*) AS n_customers,
                   round(sum(round(money * 100.0)::BIGINT)
                         / (count(*) * 100.0), 2) AS avg_monetary
            FROM scored GROUP BY 1, 2, 3
        """)
def q_rfm_segmentation(spark, sf_dir):
    # Classic RFM quartile segmentation of the customer base from the
    # orders fact: broadcast percentile boundaries, comparison scoring,
    # no ntile window (relational.py:rfm_segmentation).
    orders = _t(spark, sf_dir, "orders")
    return R.rfm_segmentation(
        orders, "o_custkey", "o_orderdate", "o_totalprice"
    )


_FS_MAX_BLOCK = 256


def _fs_blocked_pairs(c):
    # Shared Fellegi-Sunter candidate generator. The blocking key is
    # (nation, segment, name-prefix band): the band (all but the last
    # 3 name characters) has cardinality PROPORTIONAL TO THE DATA, so
    # pair volume grows linearly with rows — a fixed (nation, segment)
    # key alone is 125 blocks forever and goes quadratic at scale (the
    # 10x probe hit 10.4x before this band existed). A 256-record
    # hot-block guard (the blocked_similarity_pairs contract,
    # relational.py) skips degenerate bands on top.
    band = F.expr("substring(c_name, 1, length(c_name) - 3)")
    keyed = c.select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey",
        "c_mktsegment", band.alias("name_band"),
    )
    block_cols = ["c_nationkey", "c_mktsegment", "name_band"]
    sizes = keyed.groupBy(*block_cols).agg(F.count("*").alias("_bn"))
    keyed = keyed.join(
        F.broadcast(sizes.filter(F.col("_bn") <= _FS_MAX_BLOCK)),
        block_cols,
    ).drop("_bn")
    a = keyed.select(
        *block_cols,
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_acctbal").alias("bal_a"),
    )
    b = keyed.select(
        *block_cols,
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_acctbal").alias("bal_b"),
    )
    return a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))


_FS_ORACLE_PAIRS = """
            keyed AS (
                SELECT c_custkey, c_name, c_acctbal, c_nationkey,
                       c_mktsegment,
                       substr(c_name, 1, length(c_name) - 3) AS name_band
                FROM {customer}
            ),
            ok AS (
                SELECT c_nationkey, c_mktsegment, name_band
                FROM keyed GROUP BY 1, 2, 3 HAVING count(*) <= 256
            ),
            kept AS (SELECT keyed.* FROM keyed JOIN ok
                     USING (c_nationkey, c_mktsegment, name_band)),
            fs_pairs AS (
                SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                       a.c_name AS name_a, b.c_name AS name_b,
                       a.c_acctbal AS bal_a, b.c_acctbal AS bal_b
                FROM kept a JOIN kept b
                  ON a.c_nationkey = b.c_nationkey
                 AND a.c_mktsegment = b.c_mktsegment
                 AND a.name_band = b.name_band
                 AND a.c_custkey < b.c_custkey
            )
"""


@key("ext_fs_linkage", oracle=lambda: """
            WITH """ + _FS_ORACLE_PAIRS.format(customer="customer") + """,
            p AS (
                SELECT id_a, id_b,
                       COALESCE(levenshtein(name_a, name_b) <= 2,
                                FALSE) AS name_agree,
                       COALESCE(abs(bal_a - bal_b) < 500.0,
                                FALSE) AS bal_agree,
                       COALESCE((bal_a < 0.0) = (bal_b < 0.0),
                                FALSE) AS sign_agree
                FROM fs_pairs
            ),
            w AS (
                SELECT *,
                    CASE WHEN name_agree
                         THEN log2(0.95::DOUBLE / 0.02::DOUBLE)
                         ELSE log2((1.0::DOUBLE - 0.95::DOUBLE) / (1.0::DOUBLE - 0.02::DOUBLE))
                    END AS w_name_agree,
                    CASE WHEN bal_agree
                         THEN log2(0.9::DOUBLE / 0.02::DOUBLE)
                         ELSE log2((1.0::DOUBLE - 0.9::DOUBLE) / (1.0::DOUBLE - 0.02::DOUBLE))
                    END AS w_bal_agree,
                    CASE WHEN sign_agree
                         THEN log2(0.98::DOUBLE / 0.7::DOUBLE)
                         ELSE log2((1.0::DOUBLE - 0.98::DOUBLE) / (1.0::DOUBLE - 0.7::DOUBLE))
                    END AS w_sign_agree
                FROM p
            ),
            s AS (
                SELECT *, round(w_name_agree + w_bal_agree + w_sign_agree, 6)
                          AS match_weight
                FROM w
            ),
            d AS (
                SELECT *,
                    CASE WHEN match_weight >= 8.0 THEN 'match'
                         WHEN match_weight < 2.0 THEN 'non_match'
                         ELSE 'possible_match' END AS decision
                FROM s
            )
            SELECT * FROM d WHERE decision <> 'non_match'
            ORDER BY match_weight DESC, id_a, id_b
            LIMIT 200
        """)
def q_fs_linkage(spark, sf_dir):
    # Fellegi-Sunter probabilistic linkage over (nation, segment,
    # name-band) blocked customer pairs: name-edit / balance /
    # balance-sign agreement weighted by log2(m/u), top-200 of the
    # match + review queue (relational.py:fs_match_scores).
    # The agree flags are coalesced to False at creation so the output
    # BOOLEANs are schema-non-nullable (driver pandas-bridge safety:
    # None vs NaN; a NULL comparand reads as disagreement, which is
    # also what fs_match_scores' WHEN/OTHERWISE already scored NULL as).
    # Oracle mirrors the COALESCE.
    pairs = _fs_blocked_pairs(_t(spark, sf_dir, "customer")).select(
        "id_a",
        "id_b",
        F.coalesce(
            F.levenshtein("name_a", "name_b") <= 2, F.lit(False)
        ).alias("name_agree"),
        F.coalesce(
            F.abs(F.col("bal_a") - F.col("bal_b")) < 500.0, F.lit(False)
        ).alias("bal_agree"),
        F.coalesce(
            (F.col("bal_a") < 0.0) == (F.col("bal_b") < 0.0),
            F.lit(False),
        ).alias("sign_agree"),
    )
    scored = R.fs_match_scores(
        pairs,
        {
            "name_agree": (0.95, 0.02),
            "bal_agree": (0.9, 0.02),
            "sign_agree": (0.98, 0.7),
        },
        upper=8.0,
        lower=2.0,
    )
    return (
        scored.filter(F.col("decision") != "non_match")
        .orderBy(F.desc("match_weight"), "id_a", "id_b")
        .limit(200)
    )


@key("ext_quantile_shift", oracle="""
            WITH two AS (
                SELECT event_type, round(value, 2) AS v
                FROM events WHERE event_type IN ('purchase', 'view')
            ),
            q AS (
                SELECT event_type,
                       round(quantile_cont(v, 0.1), 6) AS q10, round(quantile_cont(v, 0.2), 6) AS q20, round(quantile_cont(v, 0.3), 6) AS q30, round(quantile_cont(v, 0.4), 6) AS q40, round(quantile_cont(v, 0.5), 6) AS q50, round(quantile_cont(v, 0.6), 6) AS q60, round(quantile_cont(v, 0.7), 6) AS q70, round(quantile_cont(v, 0.8), 6) AS q80, round(quantile_cont(v, 0.9), 6) AS q90
                FROM two GROUP BY 1
            ),
            a AS (SELECT * FROM q WHERE event_type = 'purchase'),
            b AS (SELECT * FROM q WHERE event_type = 'view')
            SELECT 10 AS pct, a.q10 AS q_treat, b.q10 AS q_control, round(a.q10 - b.q10, 6) AS shift FROM a, b
            UNION ALL SELECT 20 AS pct, a.q20 AS q_treat, b.q20 AS q_control, round(a.q20 - b.q20, 6) AS shift FROM a, b
            UNION ALL SELECT 30 AS pct, a.q30 AS q_treat, b.q30 AS q_control, round(a.q30 - b.q30, 6) AS shift FROM a, b
            UNION ALL SELECT 40 AS pct, a.q40 AS q_treat, b.q40 AS q_control, round(a.q40 - b.q40, 6) AS shift FROM a, b
            UNION ALL SELECT 50 AS pct, a.q50 AS q_treat, b.q50 AS q_control, round(a.q50 - b.q50, 6) AS shift FROM a, b
            UNION ALL SELECT 60 AS pct, a.q60 AS q_treat, b.q60 AS q_control, round(a.q60 - b.q60, 6) AS shift FROM a, b
            UNION ALL SELECT 70 AS pct, a.q70 AS q_treat, b.q70 AS q_control, round(a.q70 - b.q70, 6) AS shift FROM a, b
            UNION ALL SELECT 80 AS pct, a.q80 AS q_treat, b.q80 AS q_control, round(a.q80 - b.q80, 6) AS shift FROM a, b
            UNION ALL SELECT 90 AS pct, a.q90 AS q_treat, b.q90 AS q_control, round(a.q90 - b.q90, 6) AS shift FROM a, b
            ORDER BY pct
        """)
def q_quantile_shift(spark, sf_dir):
    # Quantile treatment effects: the purchase-vs-view value shift at
    # every decile (effect heterogeneity a mean test hides), from the
    # distributed histogram-selection percentiles; the shift subtracts
    # the published 6dp quantiles, so it is exact
    # (relational.py:grouped_quantiles_selection).
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(["purchase", "view"])
    ).select("event_type", F.round("value", 2).alias("value"))
    gq = R.grouped_quantiles_selection(
        ev, "event_type", "value", [i / 10 for i in range(1, 10)]
    )
    a = gq.filter(F.col("event_type") == "purchase").select(
        *[F.col(f"p{p}").alias(f"_a{p}") for p in range(10, 100, 10)]
    )
    b = gq.filter(F.col("event_type") == "view").select(
        *[F.col(f"p{p}").alias(f"_b{p}") for p in range(10, 100, 10)]
    )
    stacked = a.crossJoin(b).selectExpr(
        "stack(9, "
        + ", ".join(
            f"{p}, _a{p}, _b{p}" for p in range(10, 100, 10)
        )
        + ") AS (pct, q_treat, q_control)"
    )
    return stacked.select(
        "pct",
        "q_treat",
        "q_control",
        F.round(F.col("q_treat") - F.col("q_control"), 6).alias("shift"),
    ).orderBy("pct")


@key("ext_rmst", oracle="""
            WITH pu AS (
                SELECT user_id,
                       min(epoch_us(ts)) AS f,
                       max(epoch_us(ts)) AS l,
                       min(CASE WHEN event_type = 'error'
                                THEN epoch_us(ts) END) AS e
                FROM events GROUP BY 1
            ),
            spans AS (
                SELECT ((coalesce(e, l) - f) // 86400000000)::INT AS t,
                       (e IS NOT NULL) AS errored
                FROM pu
            ),
            per_t AS (
                SELECT t, count(*) AS total,
                       sum(errored::INT) AS n_events
                FROM spans GROUP BY 1
            ),
            grid AS (
                SELECT t, n_events,
                       sum(total) OVER ()
                       - coalesce(sum(total) OVER (
                             ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS n_at_risk
                FROM per_t
            ),
            stepped AS (
                SELECT t, n_events,
                       CASE WHEN min(1.0 - n_events / n_at_risk::DOUBLE)
                                 OVER (ORDER BY t
                                       ROWS UNBOUNDED PRECEDING) <= 0
                            THEN 0.0::DOUBLE
                            ELSE exp(sum(CASE WHEN 1.0 - n_events
                                                   / n_at_risk::DOUBLE > 0
                                         THEN ln(1.0 - n_events
                                                 / n_at_risk::DOUBLE)
                                         ELSE 0.0::DOUBLE END)
                                     OVER (ORDER BY t
                                           ROWS UNBOUNDED PRECEDING))
                       END AS s
                FROM grid
            ),
            km AS (
                SELECT t::DOUBLE AS t,
                       CASE WHEN ls IS NULL THEN 0.0::DOUBLE
                            ELSE exp(ls / 1e12) END AS survival
                FROM (
                    SELECT t, n_events,
                           CASE WHEN min(1.0 - n_events
                                         / n_at_risk::DOUBLE)
                                     OVER (ORDER BY t
                                           ROWS UNBOUNDED PRECEDING) <= 0
                                THEN NULL
                                ELSE sum(CASE WHEN 1.0 - n_events
                                                   / n_at_risk::DOUBLE > 0
                                         THEN cast(round(ln(1.0 - n_events
                                                  / n_at_risk::DOUBLE)
                                                  * 1000000000000)
                                                  as bigint)
                                         ELSE 0 END)
                                     OVER (ORDER BY t
                                           ROWS UNBOUNDED PRECEDING)
                           END AS ls
                    FROM grid
                ) WHERE n_events > 0
            ),
            seg AS (
                SELECT t,
                       survival * (least(coalesce(lead(t) OVER (ORDER BY t),
                                                  30.0), 30.0)
                                   - least(t, 30.0)) AS sg
                FROM km
            )
            SELECT 30.0::DOUBLE AS tau,
                   count(*) AS n_steps,
                   round(least(min(t), 30.0) + sum(sg), 4) AS rmst
            FROM seg
        """)
def q_rmst(spark, sf_dir):
    # Restricted mean time-to-first-error (tau = 30 days): area under
    # the same KM curve ext_kaplan_meier publishes, integrated exactly
    # over the event grid (relational.py:restricted_mean_survival).
    from streaming_demos_spark.functions.scalars import epoch_us

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(epoch_us(F.col("ts"))).alias("_first"),
        F.max(epoch_us(F.col("ts"))).alias("_last"),
        F.min(
            F.when(F.col("event_type") == "error", epoch_us(F.col("ts")))
        ).alias("_err"),
    )
    spans = per_user.select(
        (
            (F.coalesce(F.col("_err"), F.col("_last")) - F.col("_first"))
            / F.lit(86400 * 1000000)
        ).cast("int").alias("duration_days"),
        F.col("_err").isNotNull().alias("errored"),
    )
    return R.restricted_mean_survival(
        spans, "duration_days", "errored", tau=30.0
    )


@key("ext_control_chart", oracle="""
            WITH daily AS (
                SELECT event_type,
                       date_trunc('day', ts)::DATE AS day,
                       round(sum(value), 4) AS total
                FROM events GROUP BY 1, 2
            ),
            pts AS (
                SELECT event_type, day, total AS y,
                       abs(total - lag(total) OVER (
                           PARTITION BY event_type ORDER BY day)) AS mr
                FROM daily
            ),
            lims AS (
                SELECT event_type,
                       sum(y) / count(y) AS center,
                       sum(mr) / count(mr) AS mrbar
                FROM pts GROUP BY 1
            )
            SELECT p.event_type,
                   strftime(p.day, '%Y-%m-%d') AS day,
                   round(p.y, 6) AS y,
                   round(l.center + 2.66 * l.mrbar, 6) AS ucl,
                   round(l.center - 2.66 * l.mrbar, 6) AS lcl,
                   COALESCE(p.y > l.center + 2.66 * l.mrbar
                            OR p.y < l.center - 2.66 * l.mrbar, FALSE)
                       AS out_of_control
            FROM pts p JOIN lims l ON p.event_type = l.event_type
            ORDER BY p.event_type, p.day
        """)
def q_control_chart(spark, sf_dir):
    # I-MR control chart of daily event value per type: limits at
    # center +/- 2.66 * mean moving range, out-of-control points
    # flagged (relational.py:imr_control_chart).
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.round(F.sum("value"), 4).alias("total"))
    return R.imr_control_chart(
        daily, "event_type", "day", "total"
    ).orderBy("event_type", "day")


@key("ext_price_elasticity", oracle="""
            WITH rws AS (
                SELECT p_brand,
                       ln(l_quantity) AS y,
                       ln(l_extendedprice / l_quantity) AS x1,
                       l_discount AS x2
                FROM lineitem JOIN part ON l_partkey = p_partkey
            ),
            m AS (
                SELECT p_brand, avg(y) AS my, avg(x1) AS m1,
                       avg(x2) AS m2, count(*) AS n_rows
                FROM rws GROUP BY 1
            ),
            s AS (
                SELECT r.p_brand, m.my, m.m1, m.m2, m.n_rows,
                       sum((r.x1 - m.m1) * (r.x1 - m.m1)) AS s11,
                       sum((r.x2 - m.m2) * (r.x2 - m.m2)) AS s22,
                       sum((r.x1 - m.m1) * (r.x2 - m.m2)) AS s12,
                       sum((r.x1 - m.m1) * (r.y - m.my)) AS s1y,
                       sum((r.x2 - m.m2) * (r.y - m.my)) AS s2y,
                       sum((r.y - m.my) * (r.y - m.my)) AS syy
                FROM rws r JOIN m USING (p_brand)
                GROUP BY r.p_brand, m.my, m.m1, m.m2, m.n_rows
            ),
            b AS (
                SELECT *,
                       (s1y * s22 - s2y * s12)
                           / nullif(s11 * s22 - s12 * s12, 0) AS b1,
                       (s2y * s11 - s1y * s12)
                           / nullif(s11 * s22 - s12 * s12, 0) AS b2
                FROM s
            )
            SELECT p_brand,
                   round(my - b1 * m1 - b2 * m2, 6) AS b0,
                   round(b1, 6) AS b1, round(b2, 6) AS b2,
                   round(1.0::DOUBLE - (syy - b1 * s1y - b2 * s2y)
                         / nullif(syy, 0), 6) AS r2,
                   n_rows
            FROM b
            ORDER BY p_brand
        """)
def q_price_elasticity(spark, sf_dir):
    # Log-log demand curve per brand: ln(qty) ~ ln(unit price) +
    # discount via the closed-form grouped OLS — b1 is the price
    # elasticity (relational.py:grouped_ols).
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rows = li.join(p, li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.log(F.col("l_quantity")).alias("ln_qty"),
        F.log(
            F.col("l_extendedprice") / F.col("l_quantity")
        ).alias("ln_price"),
        "l_discount",
    )
    return R.grouped_ols(
        rows, "p_brand", "ln_qty", "ln_price", "l_discount"
    ).orderBy("p_brand")


@key("ext_sax_symbols", oracle="""
            WITH daily AS (
                SELECT event_type,
                       date_trunc('day', ts)::DATE AS day,
                       round(sum(value), 4) AS total
                FROM events GROUP BY 1, 2
            ),
            seg AS (
                SELECT event_type, total AS y,
                       ntile(6) OVER (PARTITION BY event_type
                           ORDER BY day) - 1 AS segment
                FROM daily
            ),
            m AS (
                SELECT event_type, count(*) AS n, sum(y) AS s1,
                       sum(y*y) AS s2
                FROM seg GROUP BY 1
            ),
            mm AS (
                SELECT event_type, s1 / n AS mean,
                       sqrt(greatest(0.0,
                           (s2 - s1*s1/n) / (n - 1))) AS std
                FROM m
            ),
            paa AS (
                SELECT event_type, segment, avg(y) AS paa
                FROM seg GROUP BY 1, 2
            ),
            j AS (
                SELECT paa.event_type, segment,
                       round(paa, 6) AS paa_mean,
                       round((paa - mean) / std, 6) AS z
                FROM paa JOIN mm ON paa.event_type = mm.event_type
            )
            SELECT event_type, segment, paa_mean, z,
                   CASE WHEN z < -0.6745 THEN 'a'
                        WHEN z < 0.0 THEN 'b'
                        WHEN z < 0.6745 THEN 'c'
                        ELSE 'd' END AS letter
            FROM j ORDER BY event_type, segment
        """)
def q_sax_symbols(spark, sf_dir):
    # SAX discretization of each event type's daily-revenue series:
    # 6 PAA segments z-normalized per series, 4-letter Gaussian
    # alphabet (relational.py:sax_symbols).
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("total"))
    return R.sax_symbols(
        daily, "event_type", "day", "total", n_segments=6
    ).orderBy("event_type", "segment")


@key("ext_cumulative_users", oracle="""
            WITH fst AS (
                SELECT user_id,
                       min(date_trunc('day', ts))::DATE AS bucket_ts
                FROM events GROUP BY 1
            ),
            per AS (
                SELECT bucket_ts, count(*) AS new_users
                FROM fst GROUP BY 1
            )
            SELECT strftime(bucket_ts, '%Y-%m-%d') AS bucket_ts,
                   new_users,
                   sum(new_users) OVER (ORDER BY bucket_ts
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)::BIGINT AS cumulative_users
            FROM per ORDER BY 1
        """)
def q_cumulative_users(spark, sf_dir):
    # Audience-growth curve: first-seen users per day + running total
    # over the 30-day calendar frame (relational.py:cumulative_new_users).
    ev = _t(spark, sf_dir, "events")
    return R.cumulative_new_users(ev, "user_id", "ts", bucket="day").orderBy(
        "bucket_ts"
    )


@generated
def _binseg_changepoints_oracle(con, sf):
    """Pure-Python reference for ext_binseg_changepoints (see
    _holt_forecast_oracle): replay binary segmentation over the daily
    totals."""
    daily = con.sql(f"""
        SELECT extract(day FROM ts)::DOUBLE AS day,
               round(sum(value), 4) AS total
        FROM read_parquet('{sf}/events.parquet')
        GROUP BY 1 ORDER BY 1
    """).fetchall()
    xs = [float(r[0]) for r in daily]
    cn, cs = [], []
    run_n, run_s = 0.0, 0.0
    for _, y in daily:
        run_n += 1.0
        run_s += float(y)
        cn.append(run_n)
        cs.append(run_s)
    big_n, big_s = cn[-1], cs[-1]

    def bs_best(lo_n, lo_s, hi_n, hi_s):
        best = None
        seg_term = (hi_s - lo_s) * (hi_s - lo_s) / (hi_n - lo_n)
        for i in range(len(xs)):
            if not (lo_n < cn[i] < hi_n):
                continue
            nl, sl = cn[i] - lo_n, cs[i] - lo_s
            nr, sr = hi_n - cn[i], hi_s - cs[i]
            gain = sl * sl / nl + sr * sr / nr - seg_term
            if best is None or gain > best[1] or (
                gain == best[1] and xs[i] < best[0]
            ):
                best = (xs[i], gain, cn[i], cs[i])
        return best

    segs = [(0.0, 0.0, big_n, big_s)]
    found = []
    for _ in range(2):
        nxt = []
        for lo_n, lo_s, hi_n, hi_s in segs:
            if hi_n - lo_n < 2:
                continue
            bb = bs_best(lo_n, lo_s, hi_n, hi_s)
            if bb is None:
                continue
            found.append((bb[0], bb[1]))
            nxt.append((lo_n, lo_s, bb[2], bb[3]))
            nxt.append((bb[2], bb[3], hi_n, hi_s))
        segs = nxt
    found.sort(key=lambda t: -t[1])
    bs_rows = [
        "(%d, %r, %r)" % (i + 1, x, round(g, 4))
        for i, (x, g) in enumerate(found)
    ]
    return (
        "SELECT CAST(c0 AS INT) AS split_rank,"
        " CAST(c1 AS DOUBLE) AS x_split,"
        " CAST(c2 AS DOUBLE) AS gain FROM (VALUES\n"
        + ",\n".join(bs_rows)
        + "\n) AS t(c0, c1, c2) ORDER BY split_rank"
    )


@key("ext_binseg_changepoints", oracle=_binseg_changepoints_oracle)
def q_binseg_changepoints(spark, sf_dir):
    # Top-3 mean-shift changepoints in the daily event-value series by
    # binary segmentation (depth 2) over prefix sums of the 30-point
    # daily grid (relational.py:binseg_changepoints).
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.dayofmonth("ts").cast("double").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("total"))
    return R.binseg_changepoints(daily, "day", "total", depth=2).orderBy(
        "split_rank"
    )


@generated
def _holt_forecast_oracle(con, sf):
    """Pure-Python reference for ext_holt_forecast: replay the
    level/trend fold over monthly revenue per nation, as a VALUES table.

    Sequential recursions (this one, ext_fs_em, ext_binseg_changepoints
    and llm_isotonic_calibration's PAVA) are beyond any SQL window, so
    the reference reads the SAME parquet via DuckDB, re-derives the
    sufficient statistics with its own SQL, and replays the recursion
    in plain Python. Determinism is by construction: the recursions
    consume exact inputs (4dp-rounded sums, integer counts), block/EM
    means are ratios of exact sums, and fsum-free accumulations run in
    one canonical (sorted) order in BOTH implementations.
    """
    from streaming_demos_spark.functions.numpy_ref import jvm_round

    monthly = con.sql(f"""
        SELECT n_name,
               extract(year FROM o_orderdate) * 12
               + extract(month FROM o_orderdate) AS mon,
               round(sum(o_totalprice), 4) AS rev
        FROM read_parquet('{sf}/orders.parquet') o
        JOIN read_parquet('{sf}/customer.parquet') c
          ON o_custkey = c_custkey
        JOIN read_parquet('{sf}/nation.parquet') n
          ON c_nationkey = n_nationkey
        GROUP BY 1, 2 ORDER BY n_name, mon
    """).fetchall()
    series: dict[str, list[float]] = {}
    for name, _, rev in monthly:
        series.setdefault(name, []).append(float(rev))
    a, b = 0.5, 0.3
    holt_rows = []
    for name in sorted(series):
        ys = series[name]
        if len(ys) < 2:
            continue
        level, trend = ys[0], ys[1] - ys[0]
        for y in ys[1:]:
            lvl = a * y + (1.0 - a) * (level + trend)
            trend = b * (lvl - level) + (1.0 - b) * trend
            level = lvl
        holt_rows.append(
            "(%r, %d, %r, %r, %r)" % (
                name, len(ys), jvm_round(level, 6),
                jvm_round(trend, 6),
                jvm_round(level + 1.0 * trend, 6),
            )
        )
    return (
        "SELECT c0 AS n_name, CAST(c1 AS INT) AS n_points,"
        " CAST(c2 AS DOUBLE) AS level, CAST(c3 AS DOUBLE) AS trend,"
        " CAST(c4 AS DOUBLE) AS forecast FROM (VALUES\n"
        + ",\n".join(holt_rows)
        + "\n) AS t(c0, c1, c2, c3, c4) ORDER BY n_name"
    )


@key("ext_holt_forecast", oracle=_holt_forecast_oracle)
def q_holt_forecast(spark, sf_dir):
    # Holt double-exponential level/trend per nation over the monthly
    # revenue series, one-month-ahead forecast — the recursion is a
    # JVM aggregate fold over the sorted per-group array, no Python,
    # no window (relational.py:holt_linear_forecast).
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            (
                F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")
            ).alias("mon"),
        )
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
    )
    return R.holt_linear_forecast(
        monthly, "n_name", "mon", "rev", alpha=0.5, beta=0.3, horizon=1
    ).orderBy("n_name")


@generated
def _fs_em_oracle(con, sf):
    """Pure-Python reference for ext_fs_em (see _holt_forecast_oracle):
    replay EM on the 2^3 pattern table of the same capped (nation,
    segment, name-band) candidate generator as the Spark side
    (_fs_blocked_pairs)."""
    import math as _math

    patt = con.sql(
        "WITH "
        + _FS_ORACLE_PAIRS.format(
            customer=f"read_parquet('{sf}/customer.parquet')"
        )
        + """
        SELECT (levenshtein(name_a, name_b) <= 2)::INT AS g0,
               (abs(bal_a - bal_b) < 500.0)::INT AS g1,
               ((bal_a < 0.0) = (bal_b < 0.0))::INT AS g2,
               count(*) AS n
        FROM fs_pairs
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """).fetchall()
    counts = sorted(((r[0], r[1], r[2]), int(r[3])) for r in patt)
    fields = ["name_agree", "bal_agree", "sign_agree"]
    k = 3
    m = [0.9] * k
    u = [0.1] * k
    lam = 0.1
    for _ in range(10):
        num_m = [0.0] * k
        num_u = [0.0] * k
        w_sum = 0.0
        n_sum = 0.0
        for g, n in counts:
            pm, pu = lam, 1.0 - lam
            for j in range(k):
                pm *= m[j] if g[j] else (1.0 - m[j])
                pu *= u[j] if g[j] else (1.0 - u[j])
            w = pm / (pm + pu)
            w_sum += w * n
            n_sum += n
            for j in range(k):
                if g[j]:
                    num_m[j] += w * n
                    num_u[j] += (1.0 - w) * n
        m = [num_m[j] / w_sum for j in range(k)]
        u = [num_u[j] / (n_sum - w_sum) for j in range(k)]
        lam = w_sum / n_sum

    em_rows = [
        "(%r, %r, %r, %r, %r, %r)" % (
            fields[j], round(m[j], 6), round(u[j], 6),
            round(_math.log2(m[j] / u[j]), 6),
            round(_math.log2((1.0 - m[j]) / (1.0 - u[j])), 6),
            round(lam, 6),
        )
        for j in range(k)
    ]
    return (
        "SELECT c0 AS field, CAST(c1 AS DOUBLE) AS m_prob,"
        " CAST(c2 AS DOUBLE) AS u_prob,"
        " CAST(c3 AS DOUBLE) AS w_agree,"
        " CAST(c4 AS DOUBLE) AS w_disagree,"
        " CAST(c5 AS DOUBLE) AS match_prior FROM (VALUES\n"
        + ",\n".join(em_rows)
        + "\n) AS t(c0, c1, c2, c3, c4, c5) ORDER BY field"
    )


@key("ext_fs_em", oracle=_fs_em_oracle)
def q_fs_em(spark, sf_dir):
    # Unsupervised EM calibration of the Fellegi-Sunter m/u
    # probabilities from the same blocked customer-pair agreement
    # vectors ext_fs_linkage scores — the 2^3 pattern table is the
    # bounded sufficient statistic (relational.py:fs_em_params).
    # Candidates come from the shared capped (nation, segment,
    # name-band) generator — linear pair growth, never quadratic.
    pairs = _fs_blocked_pairs(_t(spark, sf_dir, "customer")).select(
        (F.levenshtein("name_a", "name_b") <= 2).alias("name_agree"),
        (F.abs(F.col("bal_a") - F.col("bal_b")) < 500.0).alias(
            "bal_agree"
        ),
        ((F.col("bal_a") < 0.0) == (F.col("bal_b") < 0.0)).alias(
            "sign_agree"
        ),
    )
    return R.fs_em_params(
        pairs, ["name_agree", "bal_agree", "sign_agree"], iterations=10
    ).orderBy("field")


@key("ext_period_end_balance", oracle="""
            WITH ranked AS (
                SELECT user_id,
                       date_trunc('day', ts)::DATE AS bucket_ts,
                       value,
                       row_number() OVER (
                           PARTITION BY user_id, date_trunc('day', ts)
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ),
            per AS (
                SELECT user_id, bucket_ts, value AS last_v
                FROM ranked WHERE rn = 1
            )
            SELECT strftime(bucket_ts, '%Y-%m-%d') AS bucket_ts,
                   count(*) AS n_entities,
                   round(sum(last_v), 4) AS total_balance
            FROM per GROUP BY bucket_ts ORDER BY 1
        """)
def q_period_end_balance(spark, sf_dir):
    # Semi-additive rollup: each user's LAST event value per day
    # (max_by over a (ts, id) struct), summed across users — the
    # balance semantics a naive SUM gets wrong
    # (relational.py:period_end_balance).
    ev = _t(spark, sf_dir, "events")
    return R.period_end_balance(
        ev, "user_id", "ts", "value", "event_id", bucket="day"
    ).orderBy("bucket_ts")


@key("ext_ratio_to_parent", oracle="""
            WITH rows_ AS (
                SELECT r_name, n_name, o_totalprice::DOUBLE AS v
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
            ),
            cells AS (
                SELECT r_name, n_name, sum(v) AS cv
                FROM rows_ GROUP BY 1, 2
            ),
            parents AS (
                SELECT r_name, sum(cv) AS pv FROM cells GROUP BY 1
            )
            SELECT c.r_name, c.n_name,
                   round(c.cv, 2) AS value,
                   round(c.cv / p.pv, 6) AS share_of_parent
            FROM cells c JOIN parents p ON c.r_name = p.r_name
            ORDER BY c.r_name, c.n_name
        """)
def q_ratio_to_parent(spark, sf_dir):
    # Percent-of-parent drill-down: each nation's revenue share within
    # its region — child cells re-aggregated to parent totals and
    # broadcast back (relational.py:ratio_to_parent).
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "n_name", "o_totalprice")
    )
    return R.ratio_to_parent(rows, "r_name", "n_name", "o_totalprice").orderBy(
        "r_name", "n_name"
    )


@key("ext_fd_violations", oracle="""
            WITH cells AS (
                SELECT p_brand, p_type, count(*) AS c
                FROM part GROUP BY 1, 2
            ),
            per AS (
                SELECT p_brand,
                       count(DISTINCT p_type) AS n_rhs_values,
                       sum(c)::BIGINT AS n_rows,
                       max(c) AS dom
                FROM cells GROUP BY 1
            )
            SELECT p_brand, n_rhs_values, n_rows,
                   (n_rows - dom)::BIGINT AS n_violating_rows,
                   round(dom::DOUBLE / n_rows, 6) AS dominant_share
            FROM per WHERE n_rhs_values > 1
            ORDER BY p_brand
        """)
def q_fd_violations(spark, sf_dir):
    # Functional-dependency audit of the part catalog: where does
    # p_brand -> p_type break, and how many rows would a repair touch
    # (relational.py:fd_violations).
    p = _t(spark, sf_dir, "part")
    return R.fd_violations(p, ["p_brand"], "p_type").orderBy("p_brand")


@key("ext_seasonal_anomalies", oracle="""
            WITH base AS (
                SELECT event_type AS k, extract(hour FROM ts) AS h,
                       count(value) AS n, sum(value) AS s1,
                       sum(value*value) AS s2
                FROM events GROUP BY 1, 2
            ),
            stats AS (
                SELECT k, h, s1 / n AS mean,
                       sqrt(greatest(0.0,
                           (s2 - s1*s1/n) / (n - 1))) AS std
                FROM base
            ),
            z AS (
                SELECT e.event_id, e.event_type, e.ts, e.value,
                       round((e.value - s.mean) / s.std, 6)
                           AS z_seasonal
                FROM events e JOIN stats s
                  ON e.event_type = s.k
                 AND extract(hour FROM e.ts) = s.h
            )
            SELECT * FROM z WHERE abs(z_seasonal) > 3.0
            ORDER BY event_id
        """)
def q_seasonal_anomalies(spark, sf_dir):
    # Events z-scored against their own (type, hour-of-day) baseline —
    # a 3am spike is judged against 3am, not the daily mean
    # (relational.py:seasonal_anomalies).
    ev = _t(spark, sf_dir, "events")
    return R.seasonal_anomalies(
        ev, "event_type", "ts", "value", "event_id"
    ).orderBy("event_id")


@key("ext_price_volume_mix", oracle="""
            WITH per AS (
                SELECT l_partkey,
                       sum(CASE WHEN extract(year FROM l_shipdate) = 1995
                                THEN l_quantity ELSE 0.0::DOUBLE END) AS q1,
                       round(sum(CASE WHEN extract(year FROM l_shipdate) = 1995
                                THEN l_extendedprice ELSE 0.0::DOUBLE END),
                             4) AS r1,
                       sum(CASE WHEN extract(year FROM l_shipdate) = 1996
                                THEN l_quantity ELSE 0.0::DOUBLE END) AS q2,
                       round(sum(CASE WHEN extract(year FROM l_shipdate) = 1996
                                THEN l_extendedprice ELSE 0.0::DOUBLE END),
                             4) AS r2
                FROM lineitem
                WHERE extract(year FROM l_shipdate) IN (1995, 1996)
                GROUP BY 1
            ),
            eff AS (
                SELECT
                    sum(CASE WHEN q1 > 0 AND q2 > 0
                        THEN (r2/q2 - r1/q1) * q1
                        ELSE 0.0::DOUBLE END) AS price,
                    sum(CASE WHEN q1 > 0 AND q2 > 0
                        THEN (q2 - q1) * (r1/q1)
                        ELSE 0.0::DOUBLE END) AS volume,
                    sum(CASE WHEN q1 > 0 AND q2 > 0
                        THEN (r2/q2 - r1/q1) * (q2 - q1)
                        ELSE 0.0::DOUBLE END) AS mix,
                    sum(CASE WHEN NOT (q1 > 0) THEN r2
                        ELSE 0.0::DOUBLE END) AS new,
                    sum(CASE WHEN NOT (q2 > 0) THEN -r1
                        ELSE 0.0::DOUBLE END) AS discontinued
                FROM per
            )
            SELECT effect, round(amount, 4) AS amount FROM (
                SELECT 'price' AS effect, price AS amount FROM eff
                UNION ALL SELECT 'volume', volume FROM eff
                UNION ALL SELECT 'mix', mix FROM eff
                UNION ALL SELECT 'new', new FROM eff
                UNION ALL SELECT 'discontinued', discontinued FROM eff
            ) ORDER BY effect
        """)
def q_price_volume_mix(spark, sf_dir):
    # Revenue bridge 1995 -> 1996 decomposed into price / volume /
    # mix / new / discontinued effects per part — one conditional
    # aggregation per key, then a 5-row unpivot; the effects sum
    # exactly to the revenue delta (relational.py:price_volume_mix).
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.year("l_shipdate").alias("yr"),
        "l_quantity",
        "l_extendedprice",
    )
    return R.price_volume_mix(
        li, "l_partkey", "yr", "l_quantity", "l_extendedprice",
        period_a=1995, period_b=1996,
    ).orderBy("effect")


@key("ext_cohort_ltv", oracle="""
            WITH base AS (
                SELECT o_custkey AS cust,
                       extract(year FROM o_orderdate) * 12
                       + extract(month FROM o_orderdate) AS mon,
                       o_totalprice::DOUBLE AS val
                FROM orders
            ),
            cohorts AS (
                SELECT cust, min(mon) AS cohort FROM base GROUP BY 1
            ),
            cells AS (
                SELECT cohort AS cohort_mon, mon - cohort AS age_mon,
                       count(DISTINCT base.cust) AS n_active,
                       round(sum(val), 4) AS revenue
                FROM base JOIN cohorts ON base.cust = cohorts.cust
                GROUP BY 1, 2
            )
            SELECT cohort_mon, age_mon, n_active, revenue,
                   round(sum(revenue) OVER (PARTITION BY cohort_mon
                         ORDER BY age_mon
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW), 4) AS cum_revenue
            FROM cells ORDER BY cohort_mon, age_mon
        """)
def q_cohort_ltv(spark, sf_dir):
    # Cohort LTV triangle: customers by first-order month, revenue by
    # months-since-cohort with a per-cohort running total — window
    # bounded by the month count (relational.py:cohort_ltv).
    o = _t(spark, sf_dir, "orders")
    return R.cohort_ltv(
        o, "o_custkey", "o_orderdate", "o_totalprice"
    ).orderBy("cohort_mon", "age_mon")


@key("ext_multi_touch", oracle="""
            WITH conv AS (
                SELECT user_id AS u, ts AS cts, event_id AS cid,
                       cast(round(value * 100) as bigint) AS cval
                FROM events WHERE event_type = 'purchase'
            ),
            touch AS (
                SELECT user_id AS u, ts AS tts, event_id AS tid,
                       event_type AS channel
                FROM events WHERE event_type <> 'purchase'
            ),
            pairs AS (
                SELECT c.cid, c.cval, t.channel, t.tts, t.tid
                FROM conv c JOIN touch t
                  ON c.u = t.u
                 AND t.tts <= c.cts
                 AND t.tts > c.cts - INTERVAL 7 DAY
            ),
            ranked AS (
                SELECT cid, cval, channel,
                       row_number() OVER (PARTITION BY cid
                           ORDER BY tts, tid) AS ra,
                       row_number() OVER (PARTITION BY cid
                           ORDER BY tts DESC, tid DESC) AS rd,
                       count(*) OVER (PARTITION BY cid) AS n
                FROM pairs
            )
            SELECT channel,
                   sum(CASE WHEN ra = 1 THEN cval
                            ELSE 0 END)::BIGINT AS first_touch_cents,
                   sum(CASE WHEN rd = 1 THEN cval
                            ELSE 0 END)::BIGINT AS last_touch_cents,
                   sum((cval * 10000 * 2 + n) // (2 * n))::BIGINT
                       AS linear_cents_e4,
                   count(DISTINCT cid) AS n_conversions_touched
            FROM ranked GROUP BY 1 ORDER BY 1
        """)
def q_multi_touch(spark, sf_dir):
    # First/last/linear multi-touch attribution of purchase value to
    # the preceding 7 days of touches: user-keyed interval join (the
    # batch analog of the streaming attribution join), per-conversion
    # window bounded by the lookback horizon
    # (relational.py:multi_touch_attribution).
    ev = _t(spark, sf_dir, "events")
    return R.multi_touch_attribution(
        ev, "user_id", "ts", "event_type", "value", "event_id",
        conversion_channel="purchase", lookback_days=7,
    ).orderBy("channel")


@key("ext_pareto_skyline", oracle="""
            WITH prof AS (
                SELECT p_partkey, p_retailprice, p_size,
                       sum(l_quantity) AS total_qty
                FROM part JOIN lineitem ON p_partkey = l_partkey
                GROUP BY 1, 2, 3
            )
            SELECT s.p_partkey, s.p_retailprice, s.p_size, s.total_qty
            FROM prof s
            WHERE NOT EXISTS (
                SELECT 1 FROM prof d
                WHERE d.p_retailprice <= s.p_retailprice
                  AND d.p_size <= s.p_size
                  AND d.total_qty >= s.total_qty
                  AND (d.p_retailprice < s.p_retailprice
                       OR d.p_size < s.p_size
                       OR d.total_qty > s.total_qty)
            )
            ORDER BY s.p_partkey
        """)
def q_pareto_skyline(spark, sf_dir):
    # Skyline of the part catalog: cheapest / smallest / best-selling
    # Pareto frontier. Local skylines via Arrow-batched sum-ordered
    # dominance scans, then a broadcast dominance anti-join over the
    # small candidate union (relational.py:pareto_skyline). Objectives
    # are exact values (raw price/size, integer-valued quantity sum) so
    # dominance is ulp-safe across engines.
    li = _t(spark, sf_dir, "lineitem").groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("total_qty")
    )
    part = _t(spark, sf_dir, "part")
    prof = part.join(li, part.p_partkey == li.l_partkey).select(
        "p_partkey", "p_retailprice", "p_size", "total_qty"
    )
    return R.pareto_skyline(
        prof,
        {"p_retailprice": "min", "p_size": "min", "total_qty": "max"},
    ).orderBy("p_partkey")


@key("ext_funnel_conversion_ci", oracle="""
            WITH flags AS (
                SELECT user_id,
                       max((event_type = 'view')::INT) AS s0,
                       max((event_type = 'click')::INT) AS s1,
                       max((event_type = 'purchase')::INT) AS s2
                FROM events GROUP BY user_id
            ),
            one AS (
                SELECT sum(s0)::BIGINT AS n0,
                       sum(s0 * s1)::BIGINT AS k0,
                       sum(s1)::BIGINT AS n1,
                       sum(s1 * s2)::BIGINT AS k1
                FROM flags
            ),
            rows_ AS (
                SELECT 'view->click' AS step, n0 AS n, k0 AS k FROM one
                UNION ALL
                SELECT 'click->purchase', n1, k1 FROM one
            ),
            w AS (
                SELECT step, n, k,
                       (k * 10000 * 2 + n) // (2 * n) AS conv_e4,
                       k::DOUBLE / n::DOUBLE AS p,
                       1.0 + (1.96 * 1.96) / n::DOUBLE AS denom,
                       (k::DOUBLE / n::DOUBLE
                        + (1.96 * 1.96) / (2.0 * n::DOUBLE))
                       / (1.0 + (1.96 * 1.96) / n::DOUBLE) AS center,
                       1.96 * sqrt((k::DOUBLE / n::DOUBLE)
                           * (1.0 - k::DOUBLE / n::DOUBLE) / n::DOUBLE
                           + (1.96 * 1.96)
                             / (4.0 * n::DOUBLE * n::DOUBLE))
                       / (1.0 + (1.96 * 1.96) / n::DOUBLE) AS half
                FROM rows_
            )
            SELECT step, n, k, conv_e4,
                   round(center - half, 6) AS wilson_lo,
                   round(center + half, 6) AS wilson_hi
            FROM w ORDER BY step
        """)
def q_funnel_conversion_ci(spark, sf_dir):
    # Uncertainty-aware funnel: view->click->purchase step conversions
    # with Wilson 95% intervals - exact integer counts + half-up e4
    # conversion, bounds are deterministic closed-form doubles
    # (relational.py:funnel_conversion_ci).
    ev = _t(spark, sf_dir, "events")
    return R.funnel_conversion_ci(
        ev, "user_id", "event_type", ["view", "click", "purchase"]
    ).orderBy("step")


@key("ext_abc_classification", oracle="""
            WITH per AS (
                SELECT l_partkey AS k,
                       sum(round(l_extendedprice * (1 - l_discount)
                                 * 100))::BIGINT AS v
                FROM lineitem GROUP BY 1
            ),
            grid AS (SELECT v, count(*) AS nk FROM per GROUP BY v),
            tot AS (SELECT sum(v)::BIGINT AS t FROM per),
            cum AS (
                SELECT v, nk,
                       sum(v * nk) OVER (ORDER BY v DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)::BIGINT AS c,
                       t
                FROM grid, tot
            ),
            cls AS (
                SELECT CASE WHEN c * 100 <= 80 * t THEN 'A'
                            WHEN c * 100 <= 95 * t THEN 'B'
                            ELSE 'C' END AS abc_class,
                       nk, v, t
                FROM cum
            ),
            agg AS (
                SELECT abc_class,
                       sum(nk)::BIGINT AS n_keys,
                       sum(v * nk)::BIGINT AS total_units,
                       max(t) AS t
                FROM cls GROUP BY abc_class
            )
            SELECT abc_class, n_keys, total_units,
                   (total_units * 10000 * 2 + t) // (2 * t) AS share_e4
            FROM agg ORDER BY abc_class
        """)
def q_abc_classification(spark, sf_dir):
    # Pareto/ABC split of parts by revenue: per-part totals collapse
    # onto the distinct-total grid, the cumulative runs over that grid
    # (value cardinality, not parts), class cut is an exact integer
    # predicate (relational.py:abc_classification).
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    return R.abc_classification(li, "l_partkey", "rev")


@key("ext_cusum_drift", oracle="""
            WITH daily AS (
                SELECT event_type AS k,
                       date_trunc('day', ts)::DATE AS day,
                       sum(round(value * 100)::BIGINT)::BIGINT AS y
                FROM events GROUP BY 1, 2
            ),
            marked AS (
                SELECT k, day, y,
                       row_number() OVER (PARTITION BY k ORDER BY day)
                           AS rn
                FROM daily
            ),
            train AS (
                SELECT k, sum(y)::BIGINT AS ts, count(*) AS tn
                FROM marked WHERE rn <= 20
                GROUP BY k HAVING count(*) = 20
            ),
            dev AS (
                SELECT m.k, m.day, m.rn, t.ts,
                       (m.y * t.tn - t.ts)::BIGINT AS d
                FROM marked m JOIN train t ON m.k = t.k
            ),
            pref AS (
                SELECT k, day, rn, ts,
                       sum(d) OVER (PARTITION BY k ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)::BIGINT AS p
                FROM dev
            ),
            s AS (
                SELECT k, day, rn, ts,
                       p - least(0, min(p) OVER (PARTITION BY k
                           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW))::BIGINT
                           AS su
                FROM pref
            )
            SELECT k AS event_type,
                   strftime(day, '%Y-%m-%d') AS day,
                   su AS cusum_units,
                   COALESCE(su * 100 > 50 * ts, FALSE) AS alarm
            FROM s WHERE rn > 20
            ORDER BY event_type, day
        """)
def q_cusum_drift(spark, sf_dir):
    # Upward-drift monitor of daily revenue per event type: one-sided
    # CUSUM in its closed prefix form (cumsum + running-min windows over
    # the calendar grid, no sequential fold), trained on the first 20
    # days, alarm at 50% of the training mean - all exact BIGINTs
    # (relational.py:cusum_drift).
    ev = _t(spark, sf_dir, "events")
    return R.cusum_drift(ev, "event_type", "ts", "value").orderBy(
        "event_type", "day"
    )


@key("ext_pinball_eval", oracle="""
            WITH daily AS (
                SELECT event_type AS k,
                       date_trunc('day', ts)::DATE AS d,
                       sum(round(value * 100)::BIGINT)::BIGINT AS y
                FROM events GROUP BY 1, 2
            ),
            marked AS (
                SELECT k, d, y,
                       row_number() OVER (PARTITION BY k ORDER BY d)
                           AS rn
                FROM daily
            ),
            qh AS (
                SELECT k,
                       round(quantile_cont(y, 0.9) * 10)::BIGINT
                           AS yhat_e1
                FROM marked WHERE rn <= 20 GROUP BY k
            ),
            test AS (
                SELECT m.k, qh.yhat_e1,
                       m.y * 10 - qh.yhat_e1 AS dd
                FROM marked m JOIN qh ON m.k = qh.k
                WHERE m.rn > 20
            )
            SELECT k AS event_type,
                   count(*) AS n_test,
                   max(yhat_e1) AS yhat_e1,
                   sum(greatest(9 * dd, -1 * dd))::BIGINT
                       AS pinball_units,
                   sum((dd <= 0)::INT)::BIGINT AS n_under
            FROM test GROUP BY k ORDER BY event_type
        """)
def q_pinball_eval(spark, sf_dir):
    # P90 capacity-planning backtest: per-type train-quantile forecast
    # scored by exact-integer pinball loss on the holdout days
    # (relational.py:quantile_forecast_pinball).
    ev = _t(spark, sf_dir, "events")
    return R.quantile_forecast_pinball(
        ev, "event_type", "ts", "value"
    ).orderBy("event_type")


@key("ext_gains_table", oracle=lambda: """
            WITH src AS (
                SELECT round(value, 2) AS s,
                       (event_type = 'purchase') AS r
                FROM events
            ),
            cuts AS (
                SELECT """ + ",\n                       ".join(
                    "round(quantile_cont(s, %s) * 1000)::BIGINT AS c%d"
                    % (i / 10.0, i - 1) for i in range(1, 10)
                ) + """
                FROM src
            ),
            binned AS (
                SELECT 1 + """ + "\n                         + ".join(
                    "(round(src.s * 100)::BIGINT * 10 > cuts.c%d)::INT"
                    % i for i in range(9)
                ) + """ AS bin, r
                FROM src, cuts
            ),
            per AS (
                SELECT bin, count(*) AS n,
                       sum(r::INT)::BIGINT AS n_resp
                FROM binned GROUP BY bin
            )
            SELECT bin, n, n_resp,
                   sum(n) OVER (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)::BIGINT AS cum_n,
                   sum(n_resp) OVER (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)::BIGINT AS cum_resp
            FROM per ORDER BY bin
        """)
def q_gains_table(spark, sf_dir):
    # Targeting readout: decile gains table of event value as a
    # purchase-propensity score - distributed decile cuts broadcast
    # back, integer-safe boundary comparison, cumulative capture over
    # the 10-row frame (relational.py:gains_table).
    ev = _t(spark, sf_dir, "events").select(
        F.round("value", 2).alias("value"),
        (F.col("event_type") == "purchase").alias("resp"),
    )
    return R.gains_table(ev, "value", "resp").orderBy("bin")


@key("ext_seasonal_mase", oracle="""
            WITH daily AS (
                SELECT event_type,
                       date_trunc('day', ts)::DATE AS d,
                       sum(round(value * 100)::BIGINT)::BIGINT AS y
                FROM events GROUP BY 1, 2
            ),
            marked AS (
                SELECT event_type, y,
                       row_number() OVER (PARTITION BY event_type
                           ORDER BY d) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n,
                       lag(y, 7) OVER (PARTITION BY event_type
                           ORDER BY d) AS ys,
                       lag(y, 1) OVER (PARTITION BY event_type
                           ORDER BY d) AS y1
                FROM daily
            ),
            agg AS (
                SELECT event_type,
                       max(n) AS n_obs,
                       count(CASE WHEN rn > n - 7
                                  THEN abs(y - ys) END) AS n_test,
                       sum(CASE WHEN rn > n - 7
                                THEN abs(y - ys) END)::BIGINT AS sae_units,
                       count(CASE WHEN rn >= 2 AND rn <= n - 7
                                  THEN abs(y - y1) END) AS n_scale,
                       sum(CASE WHEN rn >= 2 AND rn <= n - 7
                                THEN abs(y - y1) END)::BIGINT AS snd_units
                FROM marked GROUP BY event_type
            )
            SELECT * FROM agg WHERE n_obs >= 9 ORDER BY event_type
        """)
def q_seasonal_mase(spark, sf_dir):
    # Seasonal-naive backtest of daily revenue per event type: last-7
    # observations held out, forecast = value one week earlier, scale =
    # in-sample one-step naive; exact integer-cents numerators, no
    # rounded quotient (relational.py:seasonal_naive_mase).
    ev = _t(spark, sf_dir, "events")
    return R.seasonal_naive_mase(
        ev, "event_type", "ts", "value", season=7
    ).orderBy("event_type")


@key("ext_hll_set_overlap", oracle="""
            -- exact set algebra; the sketch-estimate bound flags are
            -- gate-constant TRUE (the estimates live only in Spark,
            -- same contract as ext_hll_distinct)
            WITH vals AS (
                SELECT DISTINCT event_type AS s, user_id AS v FROM events
            ),
            ex AS (SELECT s, count(*) AS n FROM vals GROUP BY s),
            inter AS (
                SELECT a.s AS set_a, b.s AS set_b, count(*) AS exact_inter
                FROM vals a JOIN vals b
                  ON a.v = b.v AND a.s < b.s
                GROUP BY 1, 2
            )
            SELECT a.s AS set_a, b.s AS set_b,
                   a.n AS exact_a, b.n AS exact_b,
                   a.n + b.n - coalesce(i.exact_inter, 0) AS exact_union,
                   coalesce(i.exact_inter, 0) AS exact_inter,
                   TRUE AS est_a_ok, TRUE AS est_b_ok,
                   TRUE AS est_union_ok, TRUE AS est_inter_ok
            FROM ex a JOIN ex b ON a.s < b.s
            LEFT JOIN inter i ON i.set_a = a.s AND i.set_b = b.s
            ORDER BY set_a, set_b
        """)
def q_hll_set_overlap(spark, sf_dir):
    # Pairwise audience overlap of the five event types over sketch
    # bytes: per-type HLL built once, every |A|/|B|/union/intersection
    # estimate is scalar arithmetic on the 10-pair sketch frame;
    # exact counts + bound flags exist for the gate only
    # (relational.py:hll_set_overlap).
    ev = _t(spark, sf_dir, "events")
    return R.hll_set_overlap(ev, "event_type", "user_id")


@key("ext_weighted_median", oracle="""
            WITH grid AS (
                SELECT l_returnflag AS g, l_extendedprice AS v,
                       sum(l_quantity) AS w
                FROM lineitem GROUP BY 1, 2
            ),
            cum AS (
                SELECT g, v,
                       sum(w) OVER (PARTITION BY g ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cumw,
                       sum(w) OVER (PARTITION BY g) AS tw
                FROM grid
            )
            SELECT g AS l_returnflag,
                   round((min(CASE WHEN cumw >= tw / 2.0 THEN v END)
                          + min(CASE WHEN cumw > tw / 2.0 THEN v END)
                         ) / 2.0, 6) AS weighted_median,
                   max(tw) AS total_weight
            FROM cum GROUP BY 1 ORDER BY 1
        """)
def q_weighted_median(spark, sf_dir):
    # Exact quantity-weighted median line price per return flag — the
    # 50% point of the weight mass from a per-group value-grid running
    # sum, split-interpolated at exact-half boundaries
    # (relational.py:grouped_weighted_median).
    li = _t(spark, sf_dir, "lineitem")
    return R.grouped_weighted_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity"
    ).orderBy("l_returnflag")


@key("ext_ohlc_bars", oracle="""
            WITH ranked AS (
                SELECT event_type,
                       strftime(date_trunc('hour', ts),
                                '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                       value,
                       row_number() OVER (
                           PARTITION BY event_type, date_trunc('hour', ts)
                           ORDER BY ts, event_id) AS rn_a,
                       row_number() OVER (
                           PARTITION BY event_type, date_trunc('hour', ts)
                           ORDER BY ts DESC, event_id DESC) AS rn_d
                FROM events
            )
            SELECT event_type, bucket_ts,
                   min(CASE WHEN rn_a = 1 THEN value END) AS open,
                   max(value) AS high,
                   min(value) AS low,
                   min(CASE WHEN rn_d = 1 THEN value END) AS close,
                   round(sum(round(value * 10000.0)::BIGINT)
                         / (count(*) * 10000.0), 6) AS mean_price,
                   count(*) AS n_ticks
            FROM ranked GROUP BY 1, 2
            ORDER BY event_type, bucket_ts
        """)
def q_ohlc_bars(spark, sf_dir):
    # Hourly OHLC candlesticks of event value per event type — open /
    # close via min_by/max_by over a (ts, event_id) struct, the whole
    # bar one hash aggregation with map-side combine
    # (relational.py:ohlc_bars).
    ev = _t(spark, sf_dir, "events")
    return R.ohlc_bars(
        ev, "ts", "value", "event_type", "event_id", bucket="hour"
    ).orderBy("event_type", "bucket_ts")


@key("ext_jackknife_ci", oracle="""
            WITH b AS (
                SELECT (('0x' || substr(md5(event_id::VARCHAR), 1, 8))
                        ::BIGINT % 32) AS bk,
                       value
                FROM events WHERE value IS NOT NULL
            ),
            per_b AS (
                SELECT bk, count(*) AS nb, sum(value) AS sb,
                       sum(cast(round(value * 100) as bigint)) AS sbc
                FROM b GROUP BY 1
            ),
            tot AS (
                SELECT sum(nb) AS n, sum(sb) AS s, sum(sbc) AS sc,
                       count(*) AS k
                FROM per_b
            ),
            loo AS (
                SELECT n, s, sc, k, (s - sb) / (n - nb) AS m
                FROM per_b CROSS JOIN tot
            ),
            st AS (
                SELECT n, s, sc, k, var_pop(m) AS vm
                FROM loo GROUP BY 1, 2, 3, 4
            )
            SELECT n::BIGINT AS n,
                   ((CASE WHEN sc < 0 THEN -1 ELSE 1 END)
                    * ((abs(sc) * 10000 * 2 + n) // (2 * n)))::BIGINT
                       AS mean_e6,
                   round(sqrt((k - 1) * vm), 6) AS se,
                   round(s / n - 1.96 * sqrt((k - 1) * vm), 6) AS ci_lo,
                   round(s / n + 1.96 * sqrt((k - 1) * vm), 6) AS ci_hi
            FROM st
        """)
def q_jackknife_ci(spark, sf_dir):
    # Distribution-free CI for the mean event value: 32 md5 buckets,
    # leave-one-out means recomputed algebraically from bucket
    # aggregates — one scan, zero resampling passes
    # (relational.py:jackknife_mean_ci).
    return R.jackknife_mean_ci(
        _t(spark, sf_dir, "events"), "value", "event_id", n_buckets=32
    )


@key("ext_autocorrelation", oracle="""
            WITH b AS (
                SELECT event_type, ts, event_id, value
                FROM events WHERE value IS NOT NULL
            ),
            lagged AS (
                SELECT event_type, value AS x,
                       lag(value, 1) OVER w AS l1,
                       lag(value, 2) OVER w AS l2,
                       lag(value, 3) OVER w AS l3,
                       lag(value, 4) OVER w AS l4,
                       lag(value, 5) OVER w AS l5
                FROM b
                WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
            ),
            mu AS (SELECT event_type, avg(x) AS m FROM lagged GROUP BY 1),
            agg AS (
                SELECT lagged.event_type,
                       count(*) AS n_rows,
                       sum((x - m) * (x - m)) AS den,
                       sum((x - m) * (l1 - m)) AS n1,
                       sum((x - m) * (l2 - m)) AS n2,
                       sum((x - m) * (l3 - m)) AS n3,
                       sum((x - m) * (l4 - m)) AS n4,
                       sum((x - m) * (l5 - m)) AS n5
                FROM lagged JOIN mu USING (event_type)
                GROUP BY 1
            )
            SELECT event_type, lag, n_rows, round(num / den, 6) AS acf
            FROM (
                SELECT event_type, n_rows, den,
                       unnest([1, 2, 3, 4, 5]) AS lag,
                       unnest([n1, n2, n3, n4, n5]) AS num
                FROM agg
            )
        """)
def q_autocorrelation(spark, sf_dir):
    # Per-type ACF at lags 1..5: one ordered window makes every lag
    # column, one aggregation computes all lags (shared-scan shape,
    # relational.py:autocorrelation).
    return R.autocorrelation(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value", "event_id",
        max_lag=5,
    )


@key("ext_concentration", oracle="""
            WITH rev AS (
                SELECT s_nationkey AS nationkey, l_suppkey AS suppkey,
                       sum(cast(round(l_extendedprice * 100) as bigint)) AS v
                FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                GROUP BY 1, 2
            ),
            ranked AS (
                SELECT nationkey, v,
                       row_number() OVER (
                           PARTITION BY nationkey
                           ORDER BY v DESC, suppkey ASC
                       ) AS rk,
                       sum(v) OVER (
                           PARTITION BY nationkey
                           ORDER BY v DESC, suppkey ASC
                           ROWS UNBOUNDED PRECEDING
                       ) AS cum,
                       sum(v) OVER (PARTITION BY nationkey) AS tot,
                       count(*) OVER (PARTITION BY nationkey) AS nk
                FROM rev
            ),
            covering AS (
                SELECT nationkey, min(rk) AS n_covering
                FROM ranked WHERE cum * 10 >= tot * 9 GROUP BY 1
            )
            SELECT r.nationkey, nk AS n_keys, n_covering,
                   ((n_covering * 1000000 * 2 + nk)
                    // (2 * nk))::BIGINT AS covering_frac_e6,
                   CASE WHEN tot > 0 THEN
                       ((v * 1000000 * 2 + tot) // (2 * tot))::BIGINT
                   END AS top1_share_e6
            FROM ranked r JOIN covering c ON r.nationkey = c.nationkey
            WHERE rk = 1
        """)
def q_concentration(spark, sf_dir):
    # Mass concentration: suppliers covering 90% of each nation's
    # revenue + top-1 share; ranking runs on the per-key table, never
    # rows (relational.py:concentration_profile).
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = li.join(
        F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"]
    ).select(
        F.col("s_nationkey").alias("nationkey"),
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_extendedprice").alias("price"),
    )
    return R.concentration_profile(rev, "nationkey", "suppkey", "price")


@key("ext_gini", oracle="""
            WITH b AS (
                SELECT event_type, value FROM events
                WHERE value IS NOT NULL AND value >= 0
            ),
            r AS (
                SELECT event_type, value,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY value
                       ) AS i
                FROM b
            )
            ,
            a AS (
                SELECT event_type, count(*) AS n_rows,
                       sum(cast(round(value * 100) as bigint)) AS sx,
                       sum(i * cast(round(value * 100) as bigint)) AS six
                FROM r GROUP BY 1
            )
            SELECT event_type, n_rows,
                   CASE WHEN sx > 0 THEN
                       ((CASE WHEN 2 * six - (n_rows + 1) * sx < 0
                              THEN -1 ELSE 1 END)
                        * ((abs(2 * six - (n_rows + 1) * sx) * 1000000 * 2
                            + n_rows * sx) // (2 * n_rows * sx)))::BIGINT
                   END AS gini_e6
            FROM a
        """)
def q_gini(spark, sf_dir):
    # Per-type inequality of event values (skew screen): sorted-rank
    # Gini identity, per-group window (relational.py:gini_coefficient).
    return R.gini_coefficient(_t(spark, sf_dir, "events"), "event_type", "value")


@key("ext_changepoint", oracle="""
            WITH b AS (
                SELECT event_type, ts, event_id, value
                FROM events WHERE value IS NOT NULL
            ),
            st AS (
                SELECT event_type, avg(value) AS mu,
                       stddev_pop(value) AS sd, count(*) AS n
                FROM b GROUP BY 1
            ),
            c AS (
                SELECT b.event_type, ts, event_id, sd, n,
                       round(abs(sum(value - mu) OVER (
                           PARTITION BY b.event_type
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING)), 4) AS a_s
                FROM b JOIN st USING (event_type)
            ),
            p AS (
                SELECT *, row_number() OVER (
                    PARTITION BY event_type
                    ORDER BY a_s DESC, ts, event_id
                ) AS rn
                FROM c
            )
            SELECT event_type, ts AS changepoint_ts,
                   event_id AS changepoint_id,
                   a_s AS peak_cusum,
                   round(a_s / (sd * sqrt(n)), 4) AS shift_score
            FROM p WHERE rn = 1
        """)
def q_changepoint(spark, sf_dir):
    # Per-type mean-shift changepoint: CUSUM running sum, argmax |S| on
    # the rounded statistic (relational.py:cusum_changepoint).
    return R.cusum_changepoint(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value", "event_id"
    )


@key("ext_benford", oracle="""
            WITH d AS (
                SELECT substr(CAST(CAST(round(abs(l_extendedprice) * 100)
                                   AS BIGINT) AS VARCHAR), 1, 1) AS digit
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                  AND abs(l_extendedprice) > 0
            ),
            counts AS (
                SELECT digit, count(*) AS n_values
                FROM d WHERE digit <> '0' GROUP BY 1
            ),
            tot AS (SELECT sum(n_values) AS t FROM counts)
            SELECT digit, n_values,
                   ((n_values * 1000000 * 2 + tot.t)
                    // (2 * tot.t))::BIGINT AS observed_share_e6,
                   round(log10(1 + 1.0 / digit::INT), 6) AS benford_share,
                   round(pow(n_values - log10(1 + 1.0 / digit::INT)
                             * tot.t::DOUBLE, 2)
                         / (log10(1 + 1.0 / digit::INT) * tot.t::DOUBLE), 6)
                       AS chi2_term
            FROM counts CROSS JOIN tot
        """)
def q_benford(spark, sf_dir):
    # First-digit Benford screen on prices: integer-domain leading
    # digit, one 9-key aggregation (relational.py:benford_profile).
    return R.benford_profile(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


@key("ext_grouped_trend", oracle="""
            WITH b AS (
                SELECT event_type,
                       epoch_us(ts) / 1000000.0 AS x,
                       value AS y
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
            ),
            a AS (
                SELECT event_type,
                       count(*) AS n_rows,
                       covar_pop(x, y) AS cxy,
                       var_pop(x) AS vx,
                       var_pop(y) AS vy,
                       avg(x) AS mx,
                       avg(y) AS my
                FROM b GROUP BY 1
            )
            SELECT event_type, n_rows,
                   round(cxy / vx, 6) AS slope,
                   round(my - (cxy / vx) * mx, 6) AS intercept,
                   round((cxy * cxy) / (vx * vy), 6) AS r2
            FROM a
        """)
def q_grouped_trend(spark, sf_dir):
    # Per-type OLS trend of event values over time: closed-form moment
    # aggregates, one combinable shuffle (relational.py:grouped_trend).
    from streaming_demos_spark.functions.scalars import epoch_us

    ev = _t(spark, sf_dir, "events")
    return R.grouped_trend(
        ev, "event_type", epoch_us(F.col("ts")) / F.lit(1e6), "value"
    )


@key("ext_mutual_info", oracle="""
            WITH cells AS (
                SELECT lang AS x, source AS y, count(*) AS n
                FROM documents GROUP BY 1, 2
            ),
            mx AS (SELECT x, sum(n) AS nx FROM cells GROUP BY 1),
            my AS (SELECT y, sum(n) AS ny FROM cells GROUP BY 1),
            tot AS (SELECT sum(n)::DOUBLE AS t FROM cells),
            j AS (
                SELECT n, nx, ny, t FROM cells
                JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
            ),
            s AS (
                SELECT round(sum((n / t) * log2(n * t / (nx * ny))), 6)
                           AS mutual_info_bits,
                       (sum((n * n * t::BIGINT * 1000000) // (nx * ny))
                        - t::BIGINT * 1000000)::BIGINT AS chi2_e6
                FROM j
                GROUP BY t
            )
            SELECT mutual_info_bits, chi2_e6,
                   ((SELECT count(*) FROM mx) - 1)
                   * ((SELECT count(*) FROM my) - 1) AS dof
            FROM s
        """)
def q_mutual_info(spark, sf_dir):
    # Column-dependence census: MI(lang; source) in bits + chi-squared
    # + dof from one contingency aggregation
    # (relational.py:mutual_information).
    return R.mutual_information(_t(spark, sf_dir, "documents"), "lang", "source")


@key("ext_impute_mode", oracle="""
            WITH ev AS (
                SELECT event_id, user_id,
                       CASE WHEN event_id % 97 = 0 THEN NULL
                            ELSE event_type END AS event_type
                FROM events
            ),
            freq AS (
                SELECT user_id, event_type, count(*) AS n
                FROM ev WHERE event_type IS NOT NULL GROUP BY 1, 2
            ),
            modes AS (
                SELECT user_id, event_type AS mode_val FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY user_id
                        ORDER BY n DESC, event_type ASC
                    ) AS rn
                    FROM freq
                ) WHERE rn = 1
            )
            SELECT event_id, ev.user_id,
                   event_type IS NULL AS event_type_was_null,
                   coalesce(event_type, mode_val) AS event_type_imputed
            FROM ev LEFT JOIN modes ON ev.user_id = modes.user_id
        """)
def q_impute_mode(spark, sf_dir):
    # Mode imputation: null out event_type on a deterministic stripe,
    # refill with the user's modal type (relational.py:impute_mode).
    ev = _t(spark, sf_dir, "events").withColumn(
        "event_type",
        F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(
            F.col("event_type")
        ),
    )
    return R.impute_mode(ev, "user_id", "event_type").select(
        "event_id",
        "user_id",
        "event_type_was_null",
        "event_type_imputed",
    )


@key("ext_auto_histogram", oracle="""
            -- exact fixed-point mirror of auto_histogram(int_scale=100):
            -- cent units, quarter-fraction quantiles scaled 4x onto
            -- exact integers, whole-cent ceil widths, integer division
            WITH q AS (
                SELECT event_type,
                       round(quantile_cont(value, 0.25) * 400) AS q1_u4,
                       round(quantile_cont(value, 0.75) * 400) AS q3_u4,
                       count(*) AS n,
                       min(round(value * 100)::BIGINT) AS lo_u,
                       max(round(value * 100)::BIGINT) AS hi_u
                FROM events GROUP BY 1
            ),
            meta AS (
                SELECT event_type, lo_u, hi_u,
                       CASE WHEN (2.0 * (q3_u4 - q1_u4)
                                  / pow(n, 1.0/3.0)) > 0
                                 AND (hi_u - lo_u) > 0
                            THEN least(64, greatest(1,
                                 ceil(((hi_u - lo_u) * 4)::DOUBLE
                                      / (2.0 * (q3_u4 - q1_u4)
                                         / pow(n, 1.0/3.0)))))::BIGINT
                            ELSE 1 END AS nb
                FROM q
            ),
            meta2 AS (
                SELECT event_type, lo_u, nb,
                       greatest(1, (hi_u - lo_u + nb - 1) // nb) AS w_u
                FROM meta
            ),
            b AS (
                SELECT e.event_type,
                       CASE WHEN nb > 1
                            THEN least(nb - 1,
                                 (round(e.value * 100)::BIGINT - lo_u)
                                     // w_u)
                            ELSE 0 END AS bin_idx,
                       lo_u, w_u
                FROM events e JOIN meta2 USING (event_type)
            )
            SELECT event_type, bin_idx::INT AS bin_idx,
                   (lo_u + bin_idx * w_u) / 100.0 AS bin_lo,
                   (lo_u + (bin_idx + 1) * w_u) / 100.0 AS bin_hi,
                   count(*) AS n_rows
            FROM b
            GROUP BY event_type, bin_idx, lo_u, w_u
        """)
def q_auto_histogram(spark, sf_dir):
    # Freedman-Diaconis auto-binned per-type value histogram: exact
    # distributed IQR picks the width, then the same broadcast +
    # map-side floor as value_histogram (relational.py:auto_histogram).
    # int_scale=100: whole-cent ceil bin widths and integer bin
    # assignment — the float span/nb width rounded 6dp straddled a
    # 1-ulp midpoint at sf0.1.
    return R.auto_histogram(
        _t(spark, sf_dir, "events"), "event_type", "value", int_scale=100
    )


@key("ext_join_size_profile", oracle="""
            WITH ca AS (
                SELECT user_id AS k, count(*) AS c
                FROM events WHERE user_id IS NOT NULL GROUP BY 1
            )
            SELECT
                (SELECT count(user_id) FROM events) AS n_left,
                (SELECT count(user_id) FROM events) AS n_right,
                count(*) AS n_common_keys,
                coalesce(sum(c * c), 0)::BIGINT AS predicted_rows,
                coalesce(max(c * c), 0)::BIGINT AS max_key_rows
            FROM ca
        """)
def q_join_size_profile(spark, sf_dir):
    # Pre-flight join sizing: predict the events-by-user self-join's
    # output rows and biggest-key task from count aggregates alone —
    # never running the join (relational.py:join_size_profile).
    ev = _t(spark, sf_dir, "events")
    return R.join_size_profile(ev, "user_id", ev, "user_id")


@key("ext_robust_anomalies", oracle="""
            -- exact fixed-point mirror of robust_anomalies(int_scale=
            -- 100): median on 2x units (interpolates onto halves), MAD
            -- on 4x, z*1e4 as a half-up integer, integer flag predicate
            WITH med AS (
                SELECT event_type,
                       round(quantile_cont(value, 0.5) * 200)::BIGINT
                           AS med2
                FROM events GROUP BY event_type
            ),
            dev AS (
                SELECT e.event_id, e.event_type, e.value,
                       round(e.value * 200)::BIGINT - med.med2 AS dev2
                FROM events e JOIN med USING (event_type)
            ),
            mad AS (
                SELECT event_type,
                       round(quantile_cont(abs(dev2), 0.5) * 2)::BIGINT
                           AS mad4
                FROM dev GROUP BY event_type
            )
            SELECT d.event_id, d.event_type, d.value,
                   (CASE WHEN dev2 < 0 THEN -1 ELSE 1 END)
                   * ((26980 * abs(dev2) + mad4) // (2 * mad4))
                       AS robust_z_e4
            FROM dev d JOIN mad USING (event_type)
            WHERE mad4 > 0 AND 134900 * abs(dev2) > 350000 * mad4
            ORDER BY d.event_id
        """)
def q_robust_anomalies(spark, sf_dir):
    # Median/MAD outlier flags per event type (modified z-score > 3.5)
    # — exact medians via distributed selection, no per-key buffering
    # (relational.py:robust_anomalies). int_scale=100: the z-score is
    # an exact half-up integer (z*1e4) and the flag is a pure integer
    # predicate — the float 0.6745*dev/MAD rounded 4dp lands ON decimal
    # midpoints at sf0.1.
    ev = _t(spark, sf_dir, "events")
    return R.robust_anomalies(
        ev, "event_type", "value", "event_id", threshold=3.5,
        int_scale=100,
    ).orderBy("event_id")


@key("ext_sequence_gaps", oracle="""
            WITH actual AS (
                SELECT event_id FROM events WHERE event_id % 97 != 13
            ),
            bounds AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM actual),
            all_ids AS (
                SELECT unnest(generate_series(lo, hi)) AS id FROM bounds
            ),
            missing AS (
                SELECT id FROM all_ids
                WHERE id NOT IN (SELECT event_id FROM actual)
            ),
            isl AS (
                SELECT id, id - row_number() OVER (ORDER BY id) AS grp
                FROM missing
            )
            SELECT min(id) AS gap_start, max(id) AS gap_end,
                   count(*) AS n_missing
            FROM isl GROUP BY grp ORDER BY gap_start
        """)
def q_sequence_gaps(spark, sf_dir):
    # Change-feed integrity: every missing run in the event-id sequence
    # (ids % 97 == 13 withheld to manufacture deterministic gaps) via
    # bucketed gap detection — complete buckets never re-inspected, no
    # global sort over the id space (relational.py:sequence_gaps).
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 97 != 13)
    return R.sequence_gaps(ev, "event_id", bucket_width=1024)


@key("ext_data_quality", oracle="""
            WITH checks AS (
                SELECT 'pk_unique_o_orderkey' AS "check",
                       count(*) - count(DISTINCT o_orderkey) AS violations
                FROM orders
                UNION ALL
                SELECT 'not_null_o_custkey',
                       sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                FROM orders
                UNION ALL
                SELECT 'not_null_o_orderstatus',
                       sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT
                FROM orders
                UNION ALL
                SELECT 'range_o_totalprice',
                       sum(CASE WHEN o_totalprice IS NULL
                                OR o_totalprice < 0.0
                                OR o_totalprice > 1000000000.0
                                THEN 1 ELSE 0 END)::BIGINT
                FROM orders
                UNION ALL
                SELECT 'fk_orders_customer', count(*)
                FROM orders o LEFT JOIN customer c
                  ON o.o_custkey = c.c_custkey
                WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
            )
            SELECT "check", violations,
                   COALESCE(violations = 0, FALSE) AS passed
            FROM checks ORDER BY "check"
        """)
def q_data_quality(spark, sf_dir):
    # Declarative constraint pre-flight over the star schema: all
    # scan-side checks (pk duplicates, null rates, value ranges) in ONE
    # aggregation pass + one left-anti count per foreign key
    # (relational.py:data_quality_report).
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return R.data_quality_report(
        orders,
        pk_cols=["o_orderkey"],
        not_null_cols=["o_custkey", "o_orderstatus"],
        range_checks=[("o_totalprice", 0.0, 1e9)],
        fks=[("o_custkey", customer, "c_custkey", "orders_customer")],
    )


@key("ext_incremental_agg", oracle="""
            WITH new_state AS (
                SELECT o_orderpriority,
                       CASE WHEN o_orderkey % 7 = 3 AND o_orderkey % 10 != 0
                            THEN cast(round(o_totalprice * 2 * 100)
                                 as bigint)
                            ELSE cast(round(o_totalprice * 100) as bigint)
                       END AS p
                FROM orders WHERE o_orderkey % 10 != 0
                UNION ALL
                SELECT o_orderpriority,
                       cast(round(o_totalprice * 100) as bigint)
                FROM orders WHERE o_orderkey % 5 = 1
            )
            SELECT o_orderpriority,
                   sum(p)::BIGINT AS revenue_cents,
                   count(*) AS n_rows
            FROM new_state
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """)
def q_incremental_agg(spark, sf_dir):
    # Materialized-view maintenance: refresh a grouped sum/count from a
    # retraction-stream delta (d(old)+i(new) pairs, Flink changelog
    # semantics) — one delta-sized shuffle + a co-partitioned join with
    # the stored aggregate, never a base-table rescan. The oracle
    # recomputes the aggregate from the reconstructed new snapshot, so
    # a green hash PROVES incremental == recompute
    # (relational.py:incremental_agg_refresh).
    orders = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    cents = F.expr("cast(round(o_totalprice * 100) as bigint)")
    img = lambda op, df: df.select(  # noqa: E731 - local shorthand
        F.lit(op).alias("op"),
        "o_orderpriority",
        cents.alias("revenue_cents"),
    )
    base_agg = orders.groupBy("o_orderpriority").agg(
        F.sum(cents).alias("revenue_cents"), F.count("*").alias("n_rows")
    )
    deletes = img("d", orders.filter(key % 10 == 0))
    upd_src = orders.filter((key % 7 == 3) & (key % 10 != 0))
    upd = img("d", upd_src).unionByName(
        img("i", upd_src.withColumn("o_totalprice", F.col("o_totalprice") * 2))
    )
    inserts = img("i", orders.filter(key % 5 == 1))
    delta = deletes.unionByName(upd).unionByName(inserts)
    return (
        R.incremental_agg_refresh(
            base_agg, delta, ["o_orderpriority"], ["revenue_cents"]
        )
        .select(
            "o_orderpriority",
            F.col("revenue_cents").cast("long").alias("revenue_cents"),
            "n_rows",
        )
        .orderBy("o_orderpriority")
    )


@key("ext_weibull_fit", oracle="""
            WITH pu AS (
                SELECT user_id,
                       min(epoch_us(ts)) AS f,
                       max(epoch_us(ts)) AS l,
                       min(CASE WHEN event_type = 'error'
                                THEN epoch_us(ts) END) AS e
                FROM events GROUP BY 1
            ),
            spans AS (
                SELECT ((coalesce(e, l) - f) // 86400000000)::INT AS t,
                       (e IS NOT NULL) AS errored
                FROM pu
            ),
            per_t AS (
                SELECT t, count(*) AS total,
                       sum(errored::INT) AS n_events
                FROM spans GROUP BY 1
            ),
            grid AS (
                SELECT t, n_events,
                       sum(total) OVER ()
                       - coalesce(sum(total) OVER (
                             ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS n_at_risk
                FROM per_t
            ),
            km AS (
                SELECT t, n_events,
                       CASE WHEN min(1.0 - n_events / n_at_risk::DOUBLE)
                                 OVER (ORDER BY t
                                       ROWS UNBOUNDED PRECEDING) <= 0
                            THEN NULL
                            ELSE sum(CASE WHEN 1.0 - n_events
                                               / n_at_risk::DOUBLE > 0
                                     THEN cast(round(ln(1.0 - n_events
                                              / n_at_risk::DOUBLE)
                                              * 1000000000000) as bigint)
                                     ELSE 0 END)
                                 OVER (ORDER BY t
                                       ROWS UNBOUNDED PRECEDING)
                       END AS ls
                FROM grid
            ),
            pts AS (
                SELECT ln(t::DOUBLE) AS x, ln(-ls / 1e12) AS y
                FROM km
                WHERE n_events > 0 AND t > 0
                  AND ls IS NOT NULL AND ls < 0
            ),
            a AS (
                SELECT count(*) AS n_points,
                       covar_pop(x, y) AS cxy, var_pop(x) AS vx,
                       var_pop(y) AS vy, avg(x) AS mx, avg(y) AS my
                FROM pts
            )
            SELECT n_points,
                   round(cxy / nullif(vx, 0.0), 6) AS shape,
                   round(exp(-(my - (cxy / nullif(vx, 0.0)) * mx)
                             / nullif(cxy / nullif(vx, 0.0), 0.0)), 6)
                       AS scale,
                   round((cxy * cxy) / nullif(vx * vy, 0.0), 6) AS fit_r2
            FROM a
        """)
def q_weibull_fit(spark, sf_dir):
    # Parametric survival summary: Weibull shape/scale from the KM
    # curve's integerized log-survival device via the ln(-ln S) x ln t
    # linearization, closed-form OLS on the bounded duration grid
    # (relational.py:weibull_survival_fit).
    from streaming_demos_spark.functions.scalars import epoch_us

    ev = _t(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(epoch_us(F.col("ts"))).alias("_f"),
        F.max(epoch_us(F.col("ts"))).alias("_l"),
        F.min(
            F.when(F.col("event_type") == "error", epoch_us(F.col("ts")))
        ).alias("_e"),
    )
    spans = pu.select(
        F.expr("cast((coalesce(_e, _l) - _f) div 86400000000 as int)").alias(
            "duration_days"
        ),
        F.col("_e").isNotNull().alias("errored"),
    )
    return R.weibull_survival_fit(spans, "duration_days", "errored")


@key("ext_burst_windows", oracle="""
            WITH pb AS (
                SELECT event_type, epoch_us(ts) // 60000000 AS b,
                       count(*) AS n
                FROM events GROUP BY 1, 2
            ),
            rolled AS (
                SELECT event_type, b,
                       sum(n) OVER (PARTITION BY event_type ORDER BY b
                                    RANGE BETWEEN 4 PRECEDING
                                          AND CURRENT ROW) AS roll
                FROM pb
            )
            SELECT event_type,
                   (b - 4)::BIGINT AS window_start_bucket,
                   b::BIGINT AS window_end_bucket,
                   roll::BIGINT AS max_events
            FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                               ORDER BY roll DESC, b) AS rn
                  FROM rolled)
            WHERE rn = 1
            ORDER BY event_type
        """)
def q_burst_windows(spark, sf_dir):
    # Rate-anomaly detector: max events per event type in any sliding
    # 5-minute window over the 1-minute bucket grid - combinable bucket
    # counts, per-key RANGE window on the calendar-bounded grid, exact
    # integers (relational.py:burst_windows).
    return R.burst_windows(_t(spark, sf_dir, "events"), "event_type", "ts")


@key("ext_lorenz_curve", oracle="""
            WITH pk AS (
                SELECT c.c_nationkey AS nation, c.c_custkey AS k,
                       sum(cast(round(o.o_totalprice * 100) as bigint)) AS v
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                GROUP BY 1, 2
            ),
            r AS (
                SELECT nation,
                       row_number() OVER (PARTITION BY nation
                                          ORDER BY v, k) AS rk,
                       sum(v) OVER (PARTITION BY nation ORDER BY v, k
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                       count(*) OVER (PARTITION BY nation) AS nk,
                       sum(v) OVER (PARTITION BY nation) AS tot
                FROM pk
            ),
            pr AS (SELECT unnest(range(1, 11)) AS decile)
            SELECT nation, pr.decile::INT AS decile,
                   rk::BIGINT AS n_bottom_keys,
                   CASE WHEN tot > 0 THEN
                       ((cum * 1000000 * 2 + tot) // (2 * tot))::BIGINT
                   END AS cum_share_e6
            FROM r JOIN pr ON r.rk = (r.nk * pr.decile) // 10
            ORDER BY nation, decile
        """)
def q_lorenz_curve(spark, sf_dir):
    # Inequality curve per region: cumulative revenue share of the
    # bottom-p% customers at 10 population cuts - exact e6 integer
    # shares over BIGINT cents (relational.py:lorenz_curve).
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_custkey"),
        F.col("o_totalprice"),
    )
    return R.lorenz_curve(joined, "nation", "c_custkey", "o_totalprice")


@key("ext_peak_concurrency", oracle="""
            WITH spans AS (
                SELECT user_id,
                       min(epoch_us(ts)) // 1000000 AS s,
                       max(epoch_us(ts)) // 1000000 AS e
                FROM events GROUP BY 1
            ),
            d AS (
                SELECT s AS t, 1 AS d FROM spans
                UNION ALL
                SELECT e + 1, -1 FROM spans
            ),
            g AS (SELECT t, sum(d) AS dd FROM d GROUP BY 1),
            r AS (
                SELECT t, sum(dd) OVER (ORDER BY t
                                        ROWS UNBOUNDED PRECEDING) AS c
                FROM g
            )
            SELECT c::BIGINT AS peak_concurrent,
                   t::BIGINT AS peak_at_epoch_sec
            FROM (SELECT *, row_number() OVER (ORDER BY c DESC, t) AS rn
                  FROM r)
            WHERE rn = 1
        """)
def q_peak_concurrency(spark, sf_dir):
    # Max simultaneously-active users (1-second resolution spans):
    # +1/-1 sweep over the calendar-bounded distinct-second grid
    # (relational.py:peak_concurrency).
    return R.peak_concurrency(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_id"
    )


@key("ext_hhi", oracle="""
            WITH pk AS (
                SELECT c.c_nationkey AS nation, c.c_custkey AS k,
                       sum(cast(round(o.o_totalprice * 100) as bigint)) AS v
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                GROUP BY 1, 2
            ),
            a AS (
                SELECT nation, count(*) AS n_keys, sum(v) AS t,
                       sum(v * v) AS sv2
                FROM pk GROUP BY 1
            )
            SELECT nation, n_keys,
                   CASE WHEN t > 0 THEN
                       ((sv2 * 1000000 * 2 + t * t)
                        // (2 * t * t))::BIGINT END AS hhi_e6
            FROM a ORDER BY nation
        """)
def q_hhi(spark, sf_dir):
    # Herfindahl concentration of customer revenue per nation - exact
    # e6 integer HHI over BIGINT cents (relational.py:herfindahl_index).
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_custkey"),
        F.col("o_totalprice"),
    )
    return R.herfindahl_index(joined, "nation", "c_custkey", "o_totalprice")
