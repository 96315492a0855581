"""``ext_*`` keys that compose operators/stats.py: hypothesis tests,
effect sizes and agreement statistics. The normal-CDF p-values restate
the A&S 7.1.26 erf polynomial VERBATIM in the same association order
as the Spark columns, so both engines evaluate the identical FP
expression.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import stats as ST
from streaming_demos_spark.queries import key


@key("ext_welch_ttest", oracle="""
            WITH per AS (
                SELECT event_type, count(value) AS n,
                       sum(value) AS s1, sum(value*value) AS s2
                FROM events
                WHERE event_type IN ('purchase', 'click')
                GROUP BY 1
            ),
            st AS (
                SELECT event_type, n, s1 / n AS mean,
                       greatest(0.0, (s2 - s1*s1/n) / (n - 1)) AS var
                FROM per
            ),
            j AS (
                SELECT a.n AS n_a, a.mean AS ma, a.var AS va,
                       b.n AS n_b, b.mean AS mb, b.var AS vb
                FROM st a, st b
                WHERE a.event_type = 'purchase' AND b.event_type = 'click'
            ),
            c AS (
                SELECT n_a, n_b, ma, mb,
                       (ma - mb) / sqrt(va/n_a + vb/n_b) AS t_stat,
                       (va/n_a + vb/n_b) * (va/n_a + vb/n_b)
                       / ((va/n_a)*(va/n_a)/(n_a - 1)
                          + (vb/n_b)*(vb/n_b)/(n_b - 1)) AS dfw
                FROM j
            ),
            e1 AS (SELECT *, abs(t_stat)/sqrt(2.0) AS x FROM c),
            e2 AS (SELECT *, 1.0/(1.0 + 0.3275911*x) AS tt FROM e1),
            e3 AS (SELECT *,
                       1.0 - (0.254829592*tt - 0.284496736*tt*tt
                              + 1.421413741*tt*tt*tt
                              - 1.453152027*tt*tt*tt*tt
                              + 1.061405429*tt*tt*tt*tt*tt)
                             * exp(-x*x) AS erf
                   FROM e2)
            SELECT n_a, n_b,
                   round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                   round(t_stat, 6) AS t_stat, round(dfw, 6) AS df_welch,
                   round(1.0 - erf, 6) AS p_normal
            FROM e3
        """)
def q_welch_ttest(spark, sf_dir):
    # Inferential layer over the reference's descriptive event metrics
    # (product-demos/streamlit/utils.py:25-29): is the purchase value
    # distribution actually different from clicks? Two-level moment
    # aggregation, closed-form t (stats.py:welch_ttest).
    ev = _t(spark, sf_dir, "events")
    return ST.welch_ttest(ev, "event_type", "value", "purchase", "click")


@key("ext_anova", oracle="""
            WITH per AS (
                SELECT event_type, count(value) AS n,
                       sum(value) AS s1, sum(value*value) AS s2
                FROM events GROUP BY 1
            ),
            tot AS (
                SELECT count(*) AS k_groups,
                       sum(n)::BIGINT AS n_total,
                       sum(s1*s1/n) AS sb_raw,
                       sum(s1) AS S1, sum(s2) AS S2
                FROM per
            ),
            c AS (
                SELECT k_groups, n_total,
                       greatest(0.0, sb_raw - S1*S1/n_total) AS ssb,
                       greatest(0.0, S2 - sb_raw) AS ssw
                FROM tot
            )
            SELECT k_groups, n_total,
                   round(ssb, 3) AS ss_between,
                   round(ssw, 3) AS ss_within,
                   round((ssb / (k_groups - 1))
                         / (ssw / (n_total - k_groups)), 6) AS f_stat
            FROM c
        """)
def q_anova(spark, sf_dir):
    # One-way ANOVA F across ALL event types: per-group sufficient
    # statistics then one combine — the tree-aggregation shape that
    # holds at any group count (stats.py:one_way_anova).
    ev = _t(spark, sf_dir, "events")
    return ST.one_way_anova(ev, "event_type", "value")


@key("ext_mann_whitney", oracle="""
            WITH two AS (
                SELECT round(value, 2) AS v, event_type
                FROM events
                WHERE event_type IN ('purchase', 'view')
            ),
            per AS (
                SELECT v, count(*) AS t,
                       sum(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS ta
                FROM two GROUP BY 1
            ),
            g AS (
                SELECT t, ta,
                       coalesce(sum(t) OVER (
                           ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0)
                       + (t + 1) / 2.0 AS midrank
                FROM per
            ),
            a AS (
                SELECT sum(ta) AS n_a, sum(t - ta) AS n_b,
                       sum(ta * midrank) AS ra,
                       sum(t::DOUBLE * t * t - t) AS ties
                FROM g
            ),
            c AS (
                SELECT n_a, n_b,
                       ra - n_a * (n_a + 1) / 2.0 AS u_a,
                       (ra - n_a * (n_a + 1) / 2.0 - n_a*n_b/2.0)
                       / sqrt(n_a*n_b/12.0
                              * ((n_a + n_b + 1)
                                 - ties / ((n_a + n_b)
                                           * (n_a + n_b - 1)))) AS z
                FROM a
            ),
            e1 AS (SELECT *, abs(z)/sqrt(2.0) AS x FROM c),
            e2 AS (SELECT *, 1.0/(1.0 + 0.3275911*x) AS tt FROM e1),
            e3 AS (SELECT *,
                       1.0 - (0.254829592*tt - 0.284496736*tt*tt
                              + 1.421413741*tt*tt*tt
                              - 1.453152027*tt*tt*tt*tt
                              + 1.061405429*tt*tt*tt*tt*tt)
                             * exp(-x*x) AS erf
                   FROM e2)
            SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
                   round(u_a, 6) AS u_stat, round(z, 6) AS z_stat,
                   round(1.0 - erf, 6) AS p_normal
            FROM e3
        """)
def q_mann_whitney(spark, sf_dir):
    # Rank-sum test without a global sort: midranks from the distinct-
    # value grid (values pre-rounded to 2dp to bound the grid at scale),
    # tie-corrected normal approximation (stats.py:mann_whitney_u).
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round("value", 2).alias("value")
    )
    return ST.mann_whitney_u(ev, "event_type", "value", "purchase", "view")


@key("ext_ks_test", oracle="""
            WITH two AS (
                SELECT round(value, 2) AS v, event_type
                FROM events
                WHERE event_type IN ('purchase', 'click')
            ),
            per AS (
                SELECT v,
                       sum(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS ca,
                       sum(CASE WHEN event_type = 'click'
                                THEN 1 ELSE 0 END) AS cb
                FROM two GROUP BY 1
            ),
            ecdf AS (
                SELECT
                    sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                        / (sum(ca) OVER ())::DOUBLE AS fa,
                    sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                        / (sum(cb) OVER ())::DOUBLE AS fb,
                    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
                FROM per
            ),
            a AS (
                SELECT max(abs(fa - fb)) AS d,
                       max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b
                FROM ecdf
            )
            SELECT n_a, n_b, round(d, 6) AS d_stat,
                   round(least(1.0, 2.0 * exp(
                       -2.0 * (n_a::DOUBLE * n_b / (n_a + n_b)) * d * d
                   )), 6) AS p_asymptotic
            FROM a
        """)
def q_ks_test(spark, sf_dir):
    # Two-sample Kolmogorov-Smirnov distribution drift check between
    # purchase and click values — ECDFs as grid running sums, sup as a
    # max over jump points (stats.py:ks_two_sample).
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round("value", 2).alias("value")
    )
    return ST.ks_two_sample(ev, "event_type", "value", "purchase", "click")


@key("ext_chi_square", oracle="""
            WITH cells AS (
                SELECT c_nationkey AS a, c_mktsegment AS b,
                       count(*) AS o
                FROM customer GROUP BY 1, 2
            ),
            rm AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
            cm AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
            tot AS (
                SELECT sum(o)::BIGINT AS n,
                       count(DISTINCT a) AS ka,
                       count(DISTINCT b) AS kb
                FROM cells
            ),
            x AS (
                SELECT (c.o - rm.ra::DOUBLE * cm.cb / t.n)
                       * (c.o - rm.ra::DOUBLE * cm.cb / t.n)
                       / (rm.ra::DOUBLE * cm.cb / t.n) AS x2,
                       t.n, t.ka, t.kb
                FROM cells c
                JOIN rm ON c.a = rm.a
                JOIN cm ON c.b = cm.b
                CROSS JOIN tot t
            ),
            agg AS (
                SELECT n, ka, kb, sum(x2) AS chi2
                FROM x GROUP BY 1, 2, 3
            )
            SELECT n AS n_rows,
                   ((ka - 1) * (kb - 1))::BIGINT AS dof,
                   round(chi2, 6) AS chi2,
                   round(sqrt(chi2 / (n * least(ka - 1, kb - 1))), 6)
                       AS cramers_v
            FROM agg
        """)
def q_chi_square(spark, sf_dir):
    # Independence of customer nation x market segment (25 x 5 cells):
    # cell-count agg, marginals re-aggregated from the CELLS and
    # broadcast back (stats.py:chi_square_independence).
    cust = _t(spark, sf_dir, "customer")
    return ST.chi_square_independence(cust, "c_nationkey", "c_mktsegment")


@key("ext_spearman", oracle="""
            WITH rows_in AS (
                SELECT count(*)::DOUBLE AS rx_in, user_id,
                       count(*) AS n_events,
                       round(sum(value), 2) AS total_value
                FROM events GROUP BY user_id
            ),
            base AS (
                SELECT n_events::DOUBLE AS x, total_value AS y
                FROM rows_in
            ),
            gx AS (
                SELECT x AS v, count(*) AS t FROM base GROUP BY 1
            ),
            mx AS (
                SELECT v,
                       coalesce(sum(t) OVER (
                           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0)
                       + (t + 1) / 2.0 AS r
                FROM gx
            ),
            gy AS (
                SELECT y AS v, count(*) AS t FROM base GROUP BY 1
            ),
            my AS (
                SELECT v,
                       coalesce(sum(t) OVER (
                           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0)
                       + (t + 1) / 2.0 AS r
                FROM gy
            ),
            ranked AS (
                SELECT mx.r AS rx, my.r AS ry
                FROM base
                JOIN mx ON base.x = mx.v
                JOIN my ON base.y = my.v
            ),
            a AS (
                SELECT count(*) AS n_rows,
                       sum(rx) AS sx, sum(ry) AS sy,
                       sum(rx*ry) AS sxy,
                       sum(rx*rx) AS sxx, sum(ry*ry) AS syy
                FROM ranked
            )
            SELECT n_rows,
                   round((sxy - sx*sy/n_rows)
                         / sqrt(greatest(0.0,
                               (sxx - sx*sx/n_rows)
                               * (syy - sy*sy/n_rows))), 6)
                       AS spearman_rho
            FROM a
        """)
def q_spearman(spark, sf_dir):
    # Monotone association between a user's activity volume and total
    # event value — midranks via the value-grid device per column, then
    # Pearson on ranks in moment form (stats.py:spearman_correlation).
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return ST.spearman_correlation(per_user, "n_events", "total_value")


@key("ext_log_rank", oracle="""
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
                       (e IS NOT NULL)::INT AS ev,
                       CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END
                           AS in_a
                FROM pu
            ),
            per_t AS (
                SELECT t, count(*) AS tot,
                       sum(in_a) AS tot_a,
                       sum(ev) AS d,
                       sum(CASE WHEN in_a = 1 THEN ev ELSE 0 END) AS da
                FROM spans GROUP BY 1
            ),
            grid AS (
                SELECT d, da,
                       sum(tot) OVER ()
                       - coalesce(sum(tot) OVER (
                             ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS n,
                       sum(tot_a) OVER ()
                       - coalesce(sum(tot_a) OVER (
                             ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS na
                FROM per_t
            ),
            terms AS (
                SELECT da - d * (na::DOUBLE / n) AS oe,
                       coalesce(d * (na::DOUBLE / n)
                                * (1.0 - na::DOUBLE / n)
                                * (n - d)
                                / nullif((n - 1)::DOUBLE, 0.0),
                                0.0) AS v
                FROM grid WHERE d > 0
            ),
            a AS (
                SELECT sum(oe) AS soe, sum(v) AS sv,
                       count(*) AS n_event_times
                FROM terms
            ),
            c AS (
                SELECT n_event_times, soe,
                       coalesce(soe * soe / nullif(sv, 0.0), 0.0) AS chi2,
                       coalesce(soe / nullif(sqrt(sv), 0.0), 0.0) AS z
                FROM a
            ),
            e1 AS (SELECT *, abs(z)/sqrt(2.0) AS x FROM c),
            e2 AS (SELECT *, 1.0/(1.0 + 0.3275911*x) AS tt FROM e1),
            e3 AS (SELECT *,
                       1.0 - (0.254829592*tt - 0.284496736*tt*tt
                              + 1.421413741*tt*tt*tt
                              - 1.453152027*tt*tt*tt*tt
                              + 1.061405429*tt*tt*tt*tt*tt)
                             * exp(-x*x) AS erf
                   FROM e2)
            SELECT n_event_times,
                   round(soe, 6) AS observed_minus_expected,
                   round(chi2, 6) AS chi2,
                   round(1.0 - erf, 6) AS p_normal
            FROM e3
        """)
def q_log_rank(spark, sf_dir):
    # A/A sanity test for the survival family: log-rank over the same
    # time-to-first-error spans as the KM/Nelson-Aalen curves, cohorted
    # by a randomized user-id parity split (every behavioural cohort in
    # this dense corpus is degenerate — ~66 events/user means everyone
    # purchases — so the null split is the honest demonstration;
    # stats.py:log_rank_test).
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
        F.when(F.col("user_id") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("cohort"),
    )
    return ST.log_rank_test(spans, "duration_days", "errored", "cohort", "even")


@key("ext_fdr_screen", oracle="""
            WITH per AS (
                SELECT c_nationkey, count(*) AS n,
                       sum(c_acctbal) AS s1
                FROM customer GROUP BY 1
            ),
            gl AS (
                SELECT avg(c_acctbal) AS mu,
                       var_samp(c_acctbal) AS var
                FROM customer
            ),
            c AS (
                SELECT c_nationkey,
                       (s1 / n - mu) / sqrt(var / n) AS z
                FROM per CROSS JOIN gl
            ),
            e1 AS (SELECT *, abs(z)/sqrt(2.0) AS x FROM c),
            e2 AS (SELECT *, 1.0/(1.0 + 0.3275911*x) AS tt FROM e1),
            e3 AS (SELECT *,
                       1.0 - (0.254829592*tt - 0.284496736*tt*tt
                              + 1.421413741*tt*tt*tt
                              - 1.453152027*tt*tt*tt*tt
                              + 1.061405429*tt*tt*tt*tt*tt)
                             * exp(-x*x) AS erf
                   FROM e2),
            tests AS (
                SELECT c_nationkey, round(1.0 - erf, 9) AS p_value
                FROM e3
            ),
            ranked AS (
                SELECT c_nationkey, p_value,
                       row_number() OVER (
                           ORDER BY p_value, c_nationkey) AS p_rank,
                       count(*) OVER () AS m
                FROM tests
            )
            SELECT c_nationkey, p_value, p_rank,
                   round(least(1.0, min(p_value * m / p_rank) OVER (
                       ORDER BY p_rank
                       ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING)), 6) AS q_value
            FROM ranked
            ORDER BY p_rank
        """)
def q_fdr_screen(spark, sf_dir):
    # Which nations' account-balance means deviate from the global mean
    # after multiple-testing control? Per-nation z-tests (broadcast
    # global moments) -> Benjamini-Hochberg suffix-min over the 25-row
    # TESTS frame (stats.py:bh_adjust).
    cust = _t(spark, sf_dir, "customer")
    per = cust.groupBy("c_nationkey").agg(
        F.count("*").alias("n"), F.sum("c_acctbal").alias("s1")
    )
    glob = cust.agg(
        F.avg("c_acctbal").alias("_mu"),
        F.var_samp("c_acctbal").alias("_var"),
    )
    z = F.try_divide(
        F.col("s1") / F.col("n") - F.col("_mu"),
        F.sqrt(F.col("_var") / F.col("n")),
    )
    tests = per.crossJoin(F.broadcast(glob)).select(
        "c_nationkey",
        F.round(ST.norm_sf_2sided(z), 9).alias("p_value"),
    )
    out = ST.bh_adjust(tests, ["c_nationkey"], "p_value")
    return out.select(
        "c_nationkey", "p_value", "p_rank", "q_value"
    ).orderBy("p_rank")


@key("ext_yuen_ttest", oracle="""
            WITH two AS (
                SELECT event_type AS g,
                       round(round(value, 2) * 100)::BIGINT AS v
                FROM events WHERE event_type IN ('purchase', 'view')
            ),
            grid AS (SELECT g, v, count(*) AS c FROM two GROUP BY 1, 2),
            cum AS (
                SELECT g, v, c,
                       coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0)::BIGINT AS cb,
                       (sum(c) OVER (PARTITION BY g))::BIGINT AS n
                FROM grid
            ),
            per AS (
                SELECT g, max(n) AS n_rows,
                       max(floor(0.2 * n)::BIGINT) AS tg,
                       sum(v * greatest(0::BIGINT,
                           least(cb + c, n - floor(0.2 * n)::BIGINT)
                           - greatest(cb, floor(0.2 * n)::BIGINT)
                           ))::BIGINT AS st,
                       sum(v * v * greatest(0::BIGINT,
                           least(cb + c, n - floor(0.2 * n)::BIGINT)
                           - greatest(cb, floor(0.2 * n)::BIGINT)
                           ))::BIGINT AS sst,
                       min(CASE WHEN cb + c >= floor(0.2 * n)::BIGINT + 1
                                THEN v END) AS lo,
                       min(CASE WHEN cb + c >= n - floor(0.2 * n)::BIGINT
                                THEN v END) AS hi
                FROM cum GROUP BY 1
            ),
            w AS (
                SELECT g, n_rows, st, (n_rows - 2 * tg)::BIGINT AS h,
                       (st + tg * lo + tg * hi)::DOUBLE AS win_sum,
                       (sst + tg * lo * lo + tg * hi * hi)::DOUBLE
                           AS win_ss
                FROM per
            ),
            stats AS (
                SELECT g, n_rows, st, h,
                       st::DOUBLE / h::DOUBLE AS tmean,
                       (n_rows::DOUBLE - 1) * greatest(0.0::DOUBLE,
                           (win_ss - win_sum * win_sum / n_rows::DOUBLE)
                           / (n_rows::DOUBLE - 1))
                       / (h::DOUBLE * (h::DOUBLE - 1)) AS d
                FROM w
            ),
            ab AS (
                SELECT a.n_rows AS n_a, b.n_rows AS n_b,
                       a.h AS h_a, b.h AS h_b,
                       a.st AS st_a, b.st AS st_b,
                       (a.tmean - b.tmean) / sqrt(a.d + b.d) AS t
                FROM stats a, stats b
                WHERE a.g = 'purchase' AND b.g = 'view'
            ),
            e1 AS (SELECT *, abs(t)/sqrt(2.0) AS x FROM ab),
            e2 AS (SELECT *, 1.0/(1.0 + 0.3275911*x) AS tt FROM e1),
            e3 AS (SELECT *,
                       1.0 - (0.254829592*tt - 0.284496736*tt*tt
                              + 1.421413741*tt*tt*tt
                              - 1.453152027*tt*tt*tt*tt
                              + 1.061405429*tt*tt*tt*tt*tt)
                             * exp(-x*x) AS erf
                   FROM e2)
            SELECT n_a, n_b, h_a::BIGINT AS h_a, h_b::BIGINT AS h_b,
                   (st_a * 10000) // h_a AS tmean_a_e6,
                   (st_b * 10000) // h_b AS tmean_b_e6,
                   round(t, 6) AS t_stat,
                   round(1.0 - erf, 6) AS p_normal
            FROM e3
        """)
def q_yuen_ttest(spark, sf_dir):
    # Robust two-sample comparison of purchase vs view values: Yuen's
    # 20%-trimmed t with winsorized variance, all order statistics
    # from the per-group value grid (stats.py:yuen_trimmed_ttest).
    # int_scale=100: exact integer-cents sums (no partition-order float
    # noise) and exact scaled-integer trimmed means — environment-proof.
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round("value", 2).alias("value")
    )
    return ST.yuen_trimmed_ttest(
        ev, "event_type", "value", "purchase", "view", int_scale=100
    )


@key("ext_diff_in_diff", oracle="""
            WITH rws AS (
                SELECT (user_id % 2 = 0) AS t,
                       (extract(day FROM ts) > 15) AS p,
                       value::DOUBLE AS x
                FROM events
            ),
            agg AS (
                SELECT
                    sum(CASE WHEN t AND p THEN 1 ELSE 0 END) AS ntp,
                    sum(CASE WHEN t AND p THEN x ELSE 0.0::DOUBLE END) AS stp,
                    sum(CASE WHEN t AND p THEN x*x ELSE 0.0::DOUBLE END) AS qtp,
                    sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS nt0,
                    sum(CASE WHEN t AND NOT p THEN x ELSE 0.0::DOUBLE END) AS st0,
                    sum(CASE WHEN t AND NOT p THEN x*x ELSE 0.0::DOUBLE END) AS qt0,
                    sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS ncp,
                    sum(CASE WHEN NOT t AND p THEN x ELSE 0.0::DOUBLE END) AS scp,
                    sum(CASE WHEN NOT t AND p THEN x*x ELSE 0.0::DOUBLE END) AS qcp,
                    sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS nc0,
                    sum(CASE WHEN NOT t AND NOT p THEN x ELSE 0.0::DOUBLE END) AS sc0,
                    sum(CASE WHEN NOT t AND NOT p THEN x*x ELSE 0.0::DOUBLE END) AS qc0
                FROM rws
            ),
            c AS (
                SELECT stp/ntp AS mtp, st0/nt0 AS mt0,
                       scp/ncp AS mcp, sc0/nc0 AS mc0,
                       greatest(0.0, (qtp - stp*stp/ntp)/(ntp-1))/ntp AS vtp,
                       greatest(0.0, (qt0 - st0*st0/nt0)/(nt0-1))/nt0 AS vt0,
                       greatest(0.0, (qcp - scp*scp/ncp)/(ncp-1))/ncp AS vcp,
                       greatest(0.0, (qc0 - sc0*sc0/nc0)/(nc0-1))/nc0 AS vc0
                FROM agg
            )
            SELECT round(mt0, 6) AS treat_pre,
                   round(mtp, 6) AS treat_post,
                   round(mc0, 6) AS control_pre,
                   round(mcp, 6) AS control_post,
                   round((mtp - mt0) - (mcp - mc0), 6) AS did_estimate,
                   round(sqrt(vtp + vt0 + vcp + vc0), 6) AS did_se,
                   round(((mtp - mt0) - (mcp - mc0))
                         / sqrt(vtp + vt0 + vcp + vc0), 6) AS z_stat
            FROM c
        """)
def q_diff_in_diff(spark, sf_dir):
    # DiD over a synthetic 2x2: even-user "treatment" x month-half
    # "period" on event value — all four cells from ONE conditional
    # aggregation (stats.py:diff_in_diff).
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 0).alias("treat"),
        (F.dayofmonth("ts") > 15).alias("post"),
        "value",
    )
    return ST.diff_in_diff(ev, "treat", "post", "value")


@key("ext_cuped", oracle="""
            WITH units AS (
                SELECT COALESCE(user_id % 2 = 0, FALSE) AS arm,
                       round(sum(CASE WHEN extract(day FROM ts) <= 15
                                 THEN value ELSE 0.0::DOUBLE END), 4) AS pre,
                       round(sum(CASE WHEN extract(day FROM ts) > 15
                                 THEN value ELSE 0.0::DOUBLE END), 4) AS post
                FROM events GROUP BY user_id
            ),
            gm AS (
                SELECT count(*)::DOUBLE AS gn, sum(pre) AS gx,
                       sum(post) AS gy, sum(pre*post) AS gxy,
                       sum(pre*pre) AS gxx
                FROM units
            ),
            g AS (
                SELECT (gxy - gx*gy/gn) / (gxx - gx*gx/gn) AS theta,
                       gx / gn AS mpre
                FROM gm
            ),
            per AS (
                SELECT arm, count(*) AS n_units,
                       sum(pre) AS x, sum(post) AS y,
                       sum(pre*post) AS xy, sum(pre*pre) AS xx,
                       sum(post*post) AS yy
                FROM units GROUP BY 1
            ),
            c AS (
                SELECT arm, n_units, theta,
                       y / n_units AS my, x / n_units AS mx, mpre,
                       yy / n_units - (y/n_units)*(y/n_units) AS vy,
                       xx / n_units - (x/n_units)*(x/n_units) AS vxa,
                       xy / n_units - (x/n_units)*(y/n_units) AS cxy
                FROM per, g
            )
            SELECT arm, n_units,
                   round(my, 6) AS mean_post,
                   round(my - theta * (mx - mpre), 6) AS mean_adjusted,
                   round(vy, 6) AS var_post,
                   round(vy + theta*theta*vxa - 2.0*theta*cxy, 6)
                       AS var_adjusted,
                   round((1.0 - (vy + theta*theta*vxa - 2.0*theta*cxy)
                                / vy) * 100.0, 6) AS var_reduction_pct
            FROM c ORDER BY arm
        """)
def q_cuped(spark, sf_dir):
    # CUPED variance reduction: per-user pre-period value adjusts the
    # post-period metric; theta from one global moment pass, per-arm
    # adjusted variance by pure algebra (stats.py:cuped_adjusted).
    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.round(
            F.sum(
                F.when(F.dayofmonth("ts") <= 15, F.col("value")).otherwise(
                    F.lit(0.0)
                )
            ),
            4,
        ).alias("pre"),
        F.round(
            F.sum(
                F.when(F.dayofmonth("ts") > 15, F.col("value")).otherwise(
                    F.lit(0.0)
                )
            ),
            4,
        ).alias("post"),
    ).select(
        # coalesce BEFORE grouping (oracle mirrors at the same stage):
        # non-nullable BOOLEAN arm key for the driver's pandas bridge.
        F.coalesce(F.col("user_id") % 2 == 0, F.lit(False)).alias("arm"),
        "pre",
        "post",
    )
    return ST.cuped_adjusted(units, "arm", "pre", "post").orderBy("arm")


@key("ext_power_analysis", oracle="""
            WITH users AS (
                SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                           AS arm,
                       (round(sum(value), 4) > 50.0 * count(*))::INT
                           AS converted
                FROM events GROUP BY user_id
            ),
            agg AS (
                SELECT sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS na,
                       sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
                           AS sa,
                       sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS nb,
                       sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
                           AS sb
                FROM users
            ),
            c AS (
                SELECT na, nb, sa, sb,
                       sa::DOUBLE / na AS p1, sb::DOUBLE / nb AS p2,
                       (sa + sb)::DOUBLE / (na + nb) AS pbar
                FROM agg
            ),
            f AS (
                SELECT na, nb, sa, sb, p1, p2,
                       1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
                       + 0.841621 * sqrt(p1 * (1.0 - p1)
                                         + p2 * (1.0 - p2)) AS num,
                       p1 - p2 AS diff
                FROM c
            )
            SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
                   ((sa * 1000000 * 2 + na) // (2 * na))::BIGINT
                       AS rate_a_e6,
                   ((sb * 1000000 * 2 + nb) // (2 * nb))::BIGINT
                       AS rate_b_e6,
                   ((CASE WHEN sa * nb - sb * na < 0 THEN -1 ELSE 1 END)
                    * ((abs(sa * nb - sb * na) * 1000000 * 2 + na * nb)
                       // (2 * na * nb)))::BIGINT AS observed_diff_e6,
                   ceil(round(coalesce(num * num
                              / nullif(diff * diff, 0.0), 0.0::DOUBLE),
                        6))::BIGINT AS n_required_per_arm
            FROM f
        """)
def q_power_analysis(spark, sf_dir):
    # How many users per arm to re-detect the observed high-value-user
    # rate gap at alpha=5% / power=80% — the experiment-duration
    # calculator (stats.py:proportion_power).
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        # "high-value user": mean event value above 50 — stated as
        # rounded-sum > 50*n so the boundary is ulp-exact cross-engine
        (
            F.round(F.sum("value"), 4) > F.lit(50.0) * F.count("*")
        ).cast("int").alias("converted")
    ).select(
        F.when(F.col("user_id") % 2 == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("arm"),
        "converted",
    )
    return ST.proportion_power(users, "arm", "converted", "A", "B")


@key("ext_pairwise_contrasts", oracle="""
            WITH per AS (
                SELECT event_type AS g, count(value) AS n,
                       sum(value) AS s1, sum(value*value) AS s2
                FROM events GROUP BY 1
            ),
            m AS (
                SELECT g, n, s1 / n AS mean,
                       greatest(0.0,
                           (s2 - s1*s1/n) / (n - 1)) AS var
                FROM per
            ),
            pairs AS (
                SELECT a.g AS group_a, b.g AS group_b,
                       a.mean - b.mean AS diff,
                       sqrt(a.var / a.n + b.var / b.n) AS se
                FROM m a JOIN m b ON a.g < b.g
            ),
            z AS (
                SELECT group_a, group_b, diff, se,
                       diff / se AS zv
                FROM pairs
            ),
            e1 AS (SELECT *, abs(zv)/sqrt(2.0) AS x FROM z),
            e2 AS (SELECT *, 1.0/(1.0 + 0.3275911*x) AS tt FROM e1),
            e3 AS (SELECT *,
                       1.0 - (0.254829592*tt - 0.284496736*tt*tt
                              + 1.421413741*tt*tt*tt
                              - 1.453152027*tt*tt*tt*tt
                              + 1.061405429*tt*tt*tt*tt*tt)
                             * exp(-x*x) AS erf
                   FROM e2)
            SELECT group_a, group_b,
                   round(diff, 6) AS mean_diff,
                   round(se, 6) AS welch_se,
                   round(zv, 6) AS z_stat,
                   round(1.0 - erf, 6) AS p_normal
            FROM e3 ORDER BY group_a, group_b
        """)
def q_pairwise_contrasts(spark, sf_dir):
    # Post-hoc table after the ANOVA: all 10 event-type pairs with
    # Welch SE and normal p — inequality join over the 5-row group
    # frame (stats.py:pairwise_mean_contrasts).
    ev = _t(spark, sf_dir, "events")
    return ST.pairwise_mean_contrasts(ev, "event_type", "value").orderBy(
        "group_a", "group_b"
    )


@key("ext_theil_index", oracle="""
            WITH rows_ AS (
                SELECT n_name, o_totalprice::DOUBLE AS v
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                WHERE o_totalprice > 0
            ),
            per AS (
                SELECT n_name, count(v) AS n_rows,
                       sum(v) AS s, sum(v * ln(v)) AS sl
                FROM rows_ GROUP BY 1
            ),
            tot AS (SELECT sum(n_rows) AS tot_n, sum(s) AS tot_s
                    FROM per)
            SELECT n_name, n_rows,
                   round(s / n_rows, 6) AS mean,
                   round(s / tot_s, 6) AS income_share,
                   round(sl / s - ln(s / n_rows), 6) AS theil_within,
                   round((s / tot_s)
                         * ln((s / n_rows) / (tot_s / tot_n)), 6)
                       AS between_term
            FROM per, tot ORDER BY n_name
        """)
def q_theil_index(spark, sf_dir):
    # Order-value inequality decomposed by nation: Theil-T within /
    # between terms from one (n, Σx, Σ x ln x) aggregation per nation
    # (stats.py:theil_decomposition).
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "o_totalprice")
    )
    return ST.theil_decomposition(rows, "n_name", "o_totalprice").orderBy(
        "n_name"
    )


@key("ext_pythagorean_means", oracle="""
            WITH per AS (
                SELECT o_orderpriority,
                       count(*) AS n_rows,
                       sum(o_totalprice) AS s,
                       sum(ln(o_totalprice)) AS sl,
                       sum(1.0::DOUBLE / o_totalprice) AS si
                FROM orders WHERE o_totalprice > 0
                GROUP BY 1
            )
            SELECT o_orderpriority, n_rows,
                   round(s / n_rows, 6) AS mean_arith,
                   round(exp(sl / n_rows), 6) AS mean_geom,
                   round(n_rows / si, 6) AS mean_harm
            FROM per ORDER BY o_orderpriority
        """)
def q_pythagorean_means(spark, sf_dir):
    # AM / GM / HM of order value per priority class in one combinable
    # aggregation — the GM/AM gap is a scale-free evenness signal
    # (stats.py:pythagorean_means).
    o = _t(spark, sf_dir, "orders")
    return ST.pythagorean_means(o, "o_orderpriority", "o_totalprice").orderBy(
        "o_orderpriority"
    )


@key("ext_kendall_tau", oracle="""
            WITH cells AS (
                SELECT p_size AS x, round(p_retailprice, -2) AS y,
                       count(*) AS c
                FROM part GROUP BY 1, 2
            ),
            cd AS (
                SELECT sum(CASE WHEN a.y < b.y THEN a.c * b.c
                                ELSE 0 END) AS C,
                       sum(CASE WHEN a.y > b.y THEN a.c * b.c
                                ELSE 0 END) AS D
                FROM cells a JOIN cells b
                  ON a.x < b.x AND a.y <> b.y
            ),
            tx AS (
                SELECT sum(t * (t - 1) / 2) AS n1, sum(t) AS n
                FROM (SELECT sum(c) AS t FROM cells GROUP BY x)
            ),
            ty AS (
                SELECT sum(t * (t - 1) / 2) AS n2
                FROM (SELECT sum(c) AS t FROM cells GROUP BY y)
            )
            SELECT n::BIGINT AS n_rows,
                   coalesce(C, 0)::BIGINT AS concordant,
                   coalesce(D, 0)::BIGINT AS discordant,
                   round(coalesce(
                       (coalesce(C, 0) - coalesce(D, 0))::DOUBLE
                       / nullif(sqrt((n::DOUBLE * (n - 1) / 2.0 - n1)
                                * (n::DOUBLE * (n - 1) / 2.0 - n2)),
                                0.0),
                       0.0::DOUBLE), 6) AS tau_b
            FROM cd, tx, ty
        """)
def q_kendall_tau(spark, sf_dir):
    # Is part size rank-associated with price? Kendall tau-b from the
    # joint CELL GRID (price bucketed to $100 to bound it): the
    # inequality self-join runs over cells, never row pairs
    # (stats.py:kendall_tau_b).
    p = _t(spark, sf_dir, "part").select(
        "p_size", F.round("p_retailprice", -2).alias("price_bucket")
    )
    return ST.kendall_tau_b(p, "p_size", "price_bucket")


@key("ext_grouped_moments", oracle="""
            WITH per AS (
                SELECT event_type,
                       count(value) AS n_rows,
                       sum(value) AS s1,
                       sum(value*value) AS s2,
                       sum(value*value*value) AS s3,
                       sum(value*value*value*value) AS s4
                FROM events GROUP BY 1
            ),
            m AS (
                SELECT event_type, n_rows,
                       s1 / n_rows AS mean,
                       s2 / n_rows - (s1/n_rows) * (s1/n_rows) AS m2,
                       s3 / n_rows
                         - 3.0 * (s1/n_rows) * (s2 / n_rows)
                         + 2.0 * (s1/n_rows) * (s1/n_rows) * (s1/n_rows)
                         AS m3,
                       s4 / n_rows
                         - 4.0 * (s1/n_rows) * (s3 / n_rows)
                         + 6.0 * (s1/n_rows) * (s1/n_rows) * (s2 / n_rows)
                         - 3.0 * (s1/n_rows) * (s1/n_rows)
                               * (s1/n_rows) * (s1/n_rows)
                         AS m4
                FROM per
            )
            SELECT event_type, n_rows,
                   round(mean, 6) AS mean,
                   round(m2, 6) AS var_pop,
                   round(m3 / sqrt(m2*m2*m2), 6) AS skewness,
                   round(m4 / (m2*m2) - 3.0, 6) AS kurtosis_excess
            FROM m ORDER BY event_type
        """)
def q_grouped_moments(spark, sf_dir):
    # Shape profile of event values per type: mean / variance /
    # skewness / excess kurtosis from raw power sums in one combinable
    # aggregation (stats.py:grouped_moments).
    ev = _t(spark, sf_dir, "events")
    return ST.grouped_moments(ev, "event_type", "value").orderBy(
        "event_type"
    )


@key("ext_roc_curve", oracle="""
            WITH per AS (
                SELECT round(value, 2) AS threshold,
                       sum(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS p,
                       sum(CASE WHEN event_type = 'purchase'
                                THEN 0 ELSE 1 END) AS neg
                FROM events GROUP BY 1
            )
            SELECT threshold,
                   round(sum(p) OVER (ORDER BY threshold DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)::DOUBLE
                         / sum(p) OVER (), 6) AS tpr,
                   round(sum(neg) OVER (ORDER BY threshold DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)::DOUBLE
                         / sum(neg) OVER (), 6) AS fpr
            FROM per ORDER BY threshold DESC
        """)
def q_roc_curve(spark, sf_dir):
    # Full ROC curve for "does event value predict a purchase?":
    # TPR/FPR at every distinct 2dp score from cumulative sums down
    # the score grid (stats.py:roc_curve).
    ev = _t(spark, sf_dir, "events").select(
        F.round("value", 2).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return ST.roc_curve(ev, "score", "label").orderBy(F.desc("threshold"))


@key("ext_theil_sen", oracle="""
            WITH monthly AS (
                SELECT n_name,
                       extract(year FROM o_orderdate) * 12
                       + extract(month FROM o_orderdate) AS mon,
                       round(sum(o_totalprice), 4) AS rev
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1, 2
            ),
            slopes AS (
                SELECT a.n_name AS g,
                       (b.rev - a.rev) / (b.mon - a.mon) AS s
                FROM monthly a JOIN monthly b
                  ON a.n_name = b.n_name AND a.mon < b.mon
            ),
            grid AS (SELECT g, s AS v, count(*) AS c FROM slopes
                     GROUP BY 1, 2),
            cum AS (
                SELECT g, v,
                       sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
                       sum(c) OVER (PARTITION BY g) AS n
                FROM grid
            ),
            med AS (
                SELECT g,
                       (min(CASE WHEN cum >= ((n + 1) // 2) THEN v END)
                        + min(CASE WHEN cum >= (n // 2 + 1) THEN v END)
                       ) / 2.0 AS med
                FROM cum GROUP BY 1
            ),
            np AS (SELECT g, count(*) AS n_pairs FROM slopes GROUP BY 1)
            SELECT g AS n_name, round(med, 6) AS ts_slope, n_pairs
            FROM med JOIN np USING (g) ORDER BY n_name
        """)
def q_theil_sen(spark, sf_dir):
    # Robust monthly revenue trend per nation: median of pairwise
    # slopes over the ~80-point monthly series (bounded pair join),
    # slope median via the engine-portable grid selection
    # (stats.py:theil_sen_slope). Monthly revenue pre-rounded so both
    # engines divide identical numerators.
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
    return ST.theil_sen_slope(monthly, "n_name", "mon", "rev").orderBy(
        "n_name"
    )


@key("ext_grouped_mad", oracle="""
            WITH ev AS (
                SELECT event_type AS g, value::DOUBLE AS x FROM events
            ),
            g1 AS (SELECT g, x AS v, count(*) AS c FROM ev GROUP BY 1, 2),
            c1 AS (
                SELECT g, v,
                       sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
                       sum(c) OVER (PARTITION BY g) AS n
                FROM g1
            ),
            m1 AS (
                SELECT g,
                       (min(CASE WHEN cum >= ((n + 1) // 2) THEN v END)
                        + min(CASE WHEN cum >= (n // 2 + 1) THEN v END)
                       ) / 2.0 AS med
                FROM c1 GROUP BY 1
            ),
            dev AS (
                SELECT ev.g, abs(ev.x - m1.med) AS d
                FROM ev JOIN m1 USING (g)
            ),
            g2 AS (SELECT g, d AS v, count(*) AS c FROM dev GROUP BY 1, 2),
            c2 AS (
                SELECT g, v,
                       sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
                       sum(c) OVER (PARTITION BY g) AS n
                FROM g2
            ),
            m2 AS (
                SELECT g,
                       (min(CASE WHEN cum >= ((n + 1) // 2) THEN v END)
                        + min(CASE WHEN cum >= (n // 2 + 1) THEN v END)
                       ) / 2.0 AS mad
                FROM c2 GROUP BY 1
            )
            SELECT m1.g AS event_type,
                   round(m1.med, 6) AS median,
                   round(m2.mad, 6) AS mad,
                   round(m2.mad * 1.4826, 6) AS sigma_robust
            FROM m1 JOIN m2 ON m1.g = m2.g
            ORDER BY 1
        """)
def q_grouped_mad(spark, sf_dir):
    # Robust scale of event values per type: median absolute deviation
    # via two passes of the grid-median selection, scaled by 1.4826
    # (stats.py:grouped_mad).
    ev = _t(spark, sf_dir, "events")
    return ST.grouped_mad(ev, "event_type", "value").orderBy("event_type")


@key("ext_srm_check", oracle="""
            WITH units AS (
                SELECT DISTINCT user_id AS u, user_id % 3 AS a
                FROM events
            ),
            per AS (SELECT a, count(*) AS o FROM units GROUP BY a),
            tot AS (
                SELECT sum(o)::BIGINT AS n_units,
                       min(o)::BIGINT AS min_arm,
                       max(o)::BIGINT AS max_arm,
                       sum((3 * o) * (3 * o))::BIGINT AS skoo
                FROM per
            )
            SELECT n_units, 3 AS n_arms, min_arm, max_arm,
                   (skoo - 3 * n_units * n_units)::BIGINT AS chi2_num,
                   (3 * n_units)::BIGINT AS chi2_den,
                   ((skoo - 3 * n_units * n_units) * 1000000 * 2
                    + 3 * n_units) // (2 * 3 * n_units) AS chi2_e6
            FROM tot
        """)
def q_srm_check(spark, sf_dir):
    # Experiment guardrail: sample-ratio-mismatch chi-square over a
    # 3-arm md5-free assignment (user_id % 3), distinct units counted
    # once; exact integer numerator/denominator + half-up chi2*1e6
    # (stats.py:srm_check).
    ev = _t(spark, sf_dir, "events")
    return ST.srm_check(ev, "user_id", F.col("user_id") % 3, n_arms=3)


@key("ext_stratified_ate", oracle="""
            WITH rows_ AS (
                SELECT c_mktsegment AS stratum,
                       (o_custkey % 2 = 0) AS t,
                       round(o_totalprice * 100)::BIGINT AS y
                FROM orders JOIN customer ON o_custkey = c_custkey
            ),
            per AS (
                SELECT stratum,
                       sum(t::INT)::BIGINT AS n_t,
                       sum((NOT t)::INT)::BIGINT AS n_c,
                       sum(CASE WHEN t THEN y ELSE 0 END)::BIGINT
                           AS sum_t_units,
                       sum(CASE WHEN NOT t THEN y ELSE 0 END)::BIGINT
                           AS sum_c_units
                FROM rows_ GROUP BY stratum
            )
            SELECT stratum, n_t, n_c, sum_t_units, sum_c_units,
                   (CASE WHEN sum_t_units * n_c - sum_c_units * n_t < 0
                         THEN -1 ELSE 1 END)
                   * ((abs(sum_t_units * n_c - sum_c_units * n_t)
                       * 100 * 2 + n_t * n_c) // (2 * n_t * n_c))
                       AS diff_e4
            FROM per
            WHERE n_t > 0 AND n_c > 0
            ORDER BY stratum
        """)
def q_stratified_ate(spark, sf_dir):
    # Observational treatment read: even-custkey "treated" orders vs
    # control within market-segment strata; exact integer counts and
    # cent-sums, treated-control mean gap as a half-up e4 integer
    # (stats.py:stratified_ate).
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", (F.col("o_custkey") % 2 == 0).alias("treat")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rows = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    return ST.stratified_ate(
        rows, "c_mktsegment", "treat", "o_totalprice"
    ).orderBy("stratum")


@key("ext_mann_kendall", oracle="""
            WITH daily AS (
                SELECT event_type AS g,
                       date_trunc('day', ts)::DATE AS d,
                       sum(round(value * 100)::BIGINT)::BIGINT AS y
                FROM events GROUP BY 1, 2
            ),
            s AS (
                SELECT a.g,
                       sum(CASE WHEN b.y > a.y THEN 1
                                WHEN b.y < a.y THEN -1
                                ELSE 0 END)::BIGINT AS s_stat
                FROM daily a JOIN daily b
                  ON a.g = b.g AND a.d < b.d
                GROUP BY a.g
            ),
            ties AS (
                SELECT g,
                       sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term,
                       sum(t)::BIGINT AS n_days
                FROM (SELECT g, y, count(*) AS t FROM daily GROUP BY 1, 2)
                GROUP BY g
            ),
            j AS (
                SELECT s.g, n_days, s_stat, tie_term,
                       (n_days::DOUBLE * (n_days::DOUBLE - 1)
                        * (2 * n_days::DOUBLE + 5)
                        - tie_term::DOUBLE) / 18.0 AS v
                FROM s JOIN ties ON s.g = ties.g
            ),
            z0 AS (
                SELECT g, n_days, s_stat, tie_term,
                       CASE WHEN s_stat > 0
                            THEN (s_stat::DOUBLE - 1) / sqrt(v)
                            WHEN s_stat < 0
                            THEN (s_stat::DOUBLE + 1) / sqrt(v)
                            ELSE 0.0::DOUBLE END AS z
                FROM j
            ),
            e1 AS (SELECT *, abs(z)/sqrt(2.0) AS x FROM z0),
            e2 AS (SELECT *, 1.0/(1.0 + 0.3275911*x) AS tt FROM e1),
            e3 AS (SELECT *,
                       1.0 - (0.254829592*tt - 0.284496736*tt*tt
                              + 1.421413741*tt*tt*tt
                              - 1.453152027*tt*tt*tt*tt
                              + 1.061405429*tt*tt*tt*tt*tt)
                             * exp(-x*x) AS erf
                   FROM e2)
            SELECT g AS event_type, n_days, s_stat, tie_term,
                   round(z, 6) AS z,
                   round(1.0 - erf, 6) AS p_normal
            FROM e3 ORDER BY event_type
        """)
def q_mann_kendall(spark, sf_dir):
    # Monotonic-trend screen of each event type's daily revenue:
    # Mann-Kendall S over the calendar-bounded daily grid (grid x grid
    # pair join, never row-scaled), tie-corrected variance, exact
    # BIGINT S/ties (stats.py:mann_kendall_trend).
    ev = _t(spark, sf_dir, "events")
    return ST.mann_kendall_trend(ev, "event_type", "ts", "value").orderBy(
        "event_type"
    )


@key("ext_conformal_interval", oracle="""
            WITH base AS (
                SELECT event_type AS g,
                       round(value * 100)::BIGINT AS v,
                       (('0x' || substr(md5(event_id::VARCHAR), 1, 4))
                            ::BIGINT % 2 = 0) AS cal
                FROM events
            ),
            cs AS (
                SELECT g, sum(v)::BIGINT AS s, count(*) AS n_cal
                FROM base WHERE cal GROUP BY g
            ),
            dev AS (
                SELECT b.g, b.cal, cs.n_cal,
                       abs(b.v * cs.n_cal - cs.s)::BIGINT AS r
                FROM base b JOIN cs USING (g)
            ),
            ks AS (
                SELECT g,
                       least(n_cal,
                             ((n_cal + 1) * 900 + 999) // 1000) AS k_rank
                FROM cs
            ),
            grid AS (
                SELECT g, r, count(*) AS c
                FROM dev WHERE cal GROUP BY 1, 2
            ),
            cum AS (
                SELECT g, r,
                       sum(c) OVER (PARTITION BY g ORDER BY r
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cm
                FROM grid
            ),
            q AS (
                SELECT cum.g, min(r) AS q_num, max(k_rank) AS k_rank
                FROM cum JOIN ks USING (g)
                WHERE cm >= k_rank GROUP BY cum.g
            )
            SELECT d.g AS event_type,
                   max(d.n_cal) AS n_cal,
                   count(*) AS n_test,
                   max(q.k_rank) AS k_rank,
                   max(q.q_num) AS q_num,
                   sum((d.r <= q.q_num)::INT)::BIGINT AS n_covered
            FROM dev d JOIN q ON d.g = q.g
            WHERE NOT d.cal
            GROUP BY d.g ORDER BY event_type
        """)
def q_conformal_interval(spark, sf_dir):
    # Split-conformal prediction interval per event type: md5-parity
    # calibration/test split, conformal radius = the ceil((n+1)(1-a))-th
    # smallest |calibration residual| from the distinct-value grid,
    # coverage counted on the test half - all exact BIGINT arithmetic
    # scaled by n_cal, no division anywhere (stats.py:conformal_interval).
    ev = _t(spark, sf_dir, "events")
    return ST.conformal_interval(
        ev, "event_type", "value", "event_id", alpha=0.1
    ).orderBy("event_type")


@key("ext_kruskal_wallis", oracle="""
            WITH cells AS (
                SELECT round(value, 2) AS v, event_type AS g,
                       count(*) AS c
                FROM events GROUP BY 1, 2
            ),
            per_v AS (SELECT v, sum(c) AS t FROM cells GROUP BY 1),
            grid AS (
                SELECT v, t,
                       coalesce(sum(t) OVER (
                           ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0)
                       + (t + 1) / 2.0 AS midrank
                FROM per_v
            ),
            per_g AS (
                SELECT g, sum(c) AS n, sum(c * midrank) AS r
                FROM cells JOIN grid USING (v) GROUP BY 1
            ),
            ties AS (
                SELECT sum(t::DOUBLE * t * t - t) AS ties FROM grid
            ),
            tot AS (
                SELECT count(*) AS k_groups, sum(n)::BIGINT AS n_total,
                       sum(r * r / n) AS rr
                FROM per_g
            ),
            h AS (
                SELECT k_groups, n_total, ties,
                       12.0 / (n_total::DOUBLE * (n_total + 1)) * rr
                       - 3.0 * (n_total + 1) AS h_stat,
                       1.0 - ties / (n_total::DOUBLE * n_total * n_total
                                     - n_total) AS corr
                FROM tot, ties
            )
            SELECT k_groups, n_total,
                   round(h_stat, 6) AS h_stat,
                   round(h_stat / corr, 6) AS h_corrected,
                   (k_groups - 1)::BIGINT AS dof
            FROM h
        """)
def q_kruskal_wallis(spark, sf_dir):
    # Rank-based one-way ANOVA across ALL event types: per-(value,
    # group) cells + midranks from the distinct-value grid (values
    # pre-rounded to 2dp to bound the grid at scale), tie-corrected
    # closed-form H (stats.py:kruskal_wallis).
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round("value", 2).alias("value")
    )
    return ST.kruskal_wallis(ev, "event_type", "value")


@key("ext_brown_forsythe", oracle="""
            WITH ev AS (
                SELECT event_type AS g, round(value, 2) AS x FROM events
            ),
            grid AS (
                SELECT g, x AS v, count(*) AS c FROM ev GROUP BY 1, 2
            ),
            cum AS (
                SELECT g, v,
                       sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
                       sum(c) OVER (PARTITION BY g) AS n
                FROM grid
            ),
            med AS (
                SELECT g,
                       (min(CASE WHEN cum >= ((n + 1) // 2) THEN v END)
                        + min(CASE WHEN cum >= (n // 2 + 1) THEN v END)
                       ) / 2.0 AS med
                FROM cum GROUP BY 1
            ),
            z AS (
                SELECT ev.g, abs(ev.x - med.med) AS z
                FROM ev JOIN med USING (g)
            ),
            per AS (
                SELECT g, count(z) AS n, sum(z) AS s1, sum(z*z) AS s2
                FROM z GROUP BY 1
            ),
            tot AS (
                SELECT count(*) AS k_groups,
                       sum(n)::BIGINT AS n_total,
                       sum(s1*s1/n) AS sb_raw,
                       sum(s1) AS S1, sum(s2) AS S2
                FROM per
            ),
            c AS (
                SELECT k_groups, n_total,
                       greatest(0.0, sb_raw - S1*S1/n_total) AS ssb,
                       greatest(0.0, S2 - sb_raw) AS ssw
                FROM tot
            )
            SELECT k_groups, n_total,
                   round(ssb, 3) AS ss_between,
                   round(ssw, 3) AS ss_within,
                   round((ssb / (k_groups - 1))
                         / (ssw / (n_total - k_groups)), 6) AS f_stat
            FROM c
        """)
def q_brown_forsythe(spark, sf_dir):
    # Variance-homogeneity test across event types: ANOVA on |x -
    # group median|, the median taken from the engine-portable value-
    # grid selection so both engines subtract bit-identical centers
    # (stats.py:brown_forsythe, grid_group_median).
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round("value", 2).alias("value")
    )
    return ST.brown_forsythe(ev, "event_type", "value")


@key("ext_mcnemar", oracle="""
            WITH per AS (
                SELECT user_id,
                       max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
                       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
                FROM events GROUP BY 1
            ),
            t AS (
                SELECT count(*) AS n_units,
                       sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS b01,
                       sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS b10
                FROM per
            )
            SELECT n_units, b01::BIGINT AS b01, b10::BIGINT AS b10,
                   CASE WHEN b01 + b10 > 0 THEN
                       (((b01 - b10) * (b01 - b10) * 1000000 * 2
                         + (b01 + b10)) // (2 * (b01 + b10)))::BIGINT
                   END AS chi2_e6
            FROM t
        """)
def q_mcnemar(spark, sf_dir):
    # Paired funnel shift: per-user click vs purchase flags; only the
    # discordant users carry signal. Exact integer counts + half-up
    # chi2*1e6 in DECIMAL intermediates (stats.py:mcnemar_test).
    ev = _t(spark, sf_dir, "events")
    return ST.mcnemar_test(
        ev,
        "user_id",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    )


@key("ext_cramers_v", oracle="""
            WITH cells AS (
                SELECT o_orderpriority AS x, o_orderstatus AS y,
                       count(*) AS obs
                FROM orders GROUP BY 1, 2
            ),
            rm AS (SELECT x, sum(obs) AS ri FROM cells GROUP BY 1),
            cm AS (SELECT y, sum(obs) AS cj FROM cells GROUP BY 1),
            tt AS (
                SELECT sum(obs) AS n, count(DISTINCT x) AS r,
                       count(DISTINCT y) AS c
                FROM cells
            ),
            -- full r x c grid: unobserved cells still contribute (0-E)^2/E
            grid AS (
                SELECT rm.x, cm.y, rm.ri, cm.cj,
                       coalesce(cells.obs, 0) AS nij
                FROM rm CROSS JOIN cm
                LEFT JOIN cells ON cells.x = rm.x AND cells.y = cm.y
            ),
            terms AS (
                SELECT ((n * nij - ri * cj) * (n * nij - ri * cj) * 1000000)
                       // (n * ri * cj) AS term, n, r, c
                FROM grid CROSS JOIN tt
            ),
            agg AS (
                SELECT max(n) AS n, max(r) AS nx, max(c) AS ny,
                       sum(term) AS chi2_e6
                FROM terms
            )
            SELECT n::BIGINT AS n, nx::BIGINT AS n_x_cats,
                   ny::BIGINT AS n_y_cats, chi2_e6::BIGINT AS chi2_e6,
                   round(sqrt((chi2_e6::DOUBLE / 1000000.0)
                              / (n::DOUBLE * least(nx - 1, ny - 1)::DOUBLE)),
                         6) AS cramers_v
            FROM agg
        """)
def q_cramers_v(spark, sf_dir):
    # Feature-vs-label association screen: order priority x status.
    # chi2 as exact e6 integer (per-cell DECIMAL divisions), V through
    # IEEE-exact divide+sqrt only (stats.py:cramers_v).
    return ST.cramers_v(_t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus")


@key("ext_fleiss_kappa", oracle="""
            WITH cell AS (
                SELECT l_partkey AS i, l_returnflag AS j, count(*) AS nij
                FROM lineitem GROUP BY 1, 2
            ),
            per_item AS (
                SELECT i, sum(nij) AS ni, sum(nij * (nij - 1)) AS agree
                FROM cell GROUP BY 1 HAVING sum(nij) >= 2
            ),
            items AS (
                SELECT i, ni,
                       ((agree * 1000000 * 2 + ni * (ni - 1))
                        // (2 * ni * (ni - 1)))::BIGINT AS pi_e6
                FROM per_item
            ),
            cat AS (
                SELECT j, sum(nij) AS cj FROM cell
                WHERE i IN (SELECT i FROM per_item) GROUP BY 1
            ),
            sc AS (
                SELECT count(*) AS n_items, sum(ni) AS n_ratings,
                       sum(pi_e6) AS sum_pi
                FROM items
            ),
            pe AS (
                SELECT max(n_items) AS n_items, max(n_ratings) AS n_ratings,
                       max(sum_pi) AS sum_pi, sum(cj * cj) AS sum_cj2
                FROM cat CROSS JOIN sc
            ),
            o AS (
                SELECT n_items, n_ratings,
                       ((sum_pi * 2 + n_items) // (2 * n_items))::BIGINT
                           AS pbar_e6,
                       ((sum_cj2 * 1000000 * 2 + n_ratings * n_ratings)
                        // (2 * n_ratings * n_ratings))::BIGINT AS pe_e6
                FROM pe
            )
            SELECT n_items::BIGINT AS n_items, n_ratings::BIGINT AS n_ratings,
                   pbar_e6, pe_e6,
                   CASE WHEN 1000000 - pe_e6 > 0 THEN
                       ((CASE WHEN pbar_e6 < pe_e6 THEN -1 ELSE 1 END)
                        * ((abs(pbar_e6 - pe_e6) * 1000000 * 2
                            + (1000000 - pe_e6))
                           // (2 * (1000000 - pe_e6))))::BIGINT
                   END AS kappa_e6
            FROM o
        """)
def q_fleiss_kappa(spark, sf_dir):
    # Multi-rater agreement: lineitems "rate" their part with a return
    # flag; variable raters per item, e6 integer agreement/chance/kappa
    # with sign device (stats.py:fleiss_kappa).
    return ST.fleiss_kappa(_t(spark, sf_dir, "lineitem"), "l_partkey", "l_returnflag")


@key("ext_iptw_ate", oracle="""
            WITH per AS (
                SELECT user_id,
                       max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                           AS t,
                       sum(CASE WHEN event_type = 'purchase'
                                THEN cast(round(value * 100) as bigint)
                                ELSE 0 END) AS y,
                       count(*) AS x
                FROM events GROUP BY 1
            ),
            sc AS (
                SELECT t, y,
                       least(9500, greatest(500, 250 * x)) AS p
                FROM per
            ),
            tot AS (
                SELECT sum(t) AS n_treated, sum(1 - t) AS n_control,
                       sum(CASE WHEN t = 1
                                THEN (CASE WHEN y < 0 THEN -1 ELSE 1 END)
                                     * ((abs(y) * 10000 * 2 + p) // (2 * p))
                                ELSE 0 END) AS wt,
                       sum(CASE WHEN t = 0
                                THEN (CASE WHEN y < 0 THEN -1 ELSE 1 END)
                                     * ((abs(y) * 10000 * 2 + (10000 - p))
                                        // (2 * (10000 - p)))
                                ELSE 0 END) AS wc,
                       count(*) AS n
                FROM sc
            )
            SELECT n_treated::BIGINT AS n_treated,
                   n_control::BIGINT AS n_control,
                   wt::BIGINT AS wsum_treated_cents,
                   wc::BIGINT AS wsum_control_cents,
                   ((CASE WHEN wt < wc THEN -1 ELSE 1 END)
                    * ((abs(wt - wc) * 2 + n) // (2 * n)))::BIGINT
                       AS ate_cents
            FROM tot
        """)
def q_iptw_ate(spark, sf_dir):
    # Observational uplift: IPW ATE of click exposure on purchase value
    # with a clipped-LINEAR propensity (250*n_events at e4, clamped to
    # [0.05, 0.95]) - the whole estimator is exact integer arithmetic,
    # no transcendental (stats.py:iptw_ate).
    ev = _t(spark, sf_dir, "events")
    return ST.iptw_ate(
        ev,
        "user_id",
        treated=F.col("event_type") == "click",
        outcome_cents=F.when(
            F.col("event_type") == "purchase",
            F.expr("cast(round(value * 100) as bigint)"),
        ).otherwise(F.lit(0).cast("bigint")),
        exposure_count=F.lit(1).cast("long"),
    )


@key("ext_cochran_q", oracle="""
            WITH per AS (
                SELECT user_id,
                       max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                           AS f0,
                       max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                           AS f1,
                       max(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS f2
                FROM events GROUP BY 1
            ),
            t AS (
                SELECT count(*) AS n_units,
                       sum(f0 + f1 + f2) AS sr,
                       sum((f0 + f1 + f2) * (f0 + f1 + f2)) AS sr2,
                       sum(f0) AS c0, sum(f1) AS c1, sum(f2) AS c2
                FROM per
            )
            SELECT n_units, 3 AS k_treatments, sr::BIGINT AS n_positives,
                   CASE WHEN 3 * sr - sr2 > 0 THEN
                       ((2 * (3 * (c0 * c0 + c1 * c1 + c2 * c2) - sr * sr)
                         * 1000000 * 2 + (3 * sr - sr2))
                        // (2 * (3 * sr - sr2)))::BIGINT
                   END AS q_e6
            FROM t
        """)
def q_cochran_q(spark, sf_dir):
    # k-treatment paired binary test: do the same users view/click/
    # purchase at different rates? Exact integer Q at e6 in DECIMAL
    # intermediates (stats.py:cochran_q).
    ev = _t(spark, sf_dir, "events")
    return ST.cochran_q(
        ev,
        "user_id",
        {
            "view": F.col("event_type") == "view",
            "click": F.col("event_type") == "click",
            "purchase": F.col("event_type") == "purchase",
        },
    )


@key("ext_odds_ratio", oracle="""
            WITH per AS (
                SELECT user_id,
                       max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                           AS e,
                       max(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS o
                FROM events GROUP BY 1
            ),
            t AS (
                SELECT sum(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END) AS a,
                       sum(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END) AS b,
                       sum(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END) AS c,
                       sum(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END) AS d
                FROM per
            )
            SELECT a::BIGINT AS a, b::BIGINT AS b,
                   c::BIGINT AS c, d::BIGINT AS d,
                   CASE WHEN b > 0 AND c > 0 THEN
                       ((a * d * 1000000 * 2 + b * c)
                        // (2 * b * c))::BIGINT END AS odds_ratio_e6,
                   CASE WHEN c > 0 AND a + b > 0 THEN
                       ((a * (c + d) * 1000000 * 2 + c * (a + b))
                        // (2 * c * (a + b)))::BIGINT
                   END AS relative_risk_e6,
                   CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                       round(exp(ln((a::DOUBLE * d) / (b::DOUBLE * c))
                                 - 1.96 * sqrt(1.0 / a + 1.0 / b
                                               + 1.0 / c + 1.0 / d)), 6)
                   END AS or_ci_lo,
                   CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                       round(exp(ln((a::DOUBLE * d) / (b::DOUBLE * c))
                                 + 1.96 * sqrt(1.0 / a + 1.0 / b
                                               + 1.0 / c + 1.0 / d)), 6)
                   END AS or_ci_hi
            FROM t
        """)
def q_odds_ratio(spark, sf_dir):
    # 2x2 exposure->outcome effect: odds ratio + relative risk as exact
    # e6 integers, Katz log-normal CI as noise-digit doubles
    # (stats.py:odds_ratio).
    ev = _t(spark, sf_dir, "events")
    return ST.odds_ratio(
        ev,
        "user_id",
        exposed=F.col("event_type") == "click",
        outcome=F.col("event_type") == "purchase",
    )


@key("ext_runs_test", oracle="""
            WITH daily AS (
                SELECT event_type, ts::DATE AS day,
                       sum(cast(round(value * 100) as bigint)) AS v
                FROM events GROUP BY 1, 2
            ),
            grid AS (
                SELECT event_type, v::DOUBLE AS v, count(*) AS c
                FROM daily GROUP BY 1, 2
            ),
            cum AS (
                SELECT event_type, v,
                       sum(c) OVER (PARTITION BY event_type ORDER BY v
                                    ROWS UNBOUNDED PRECEDING) AS cm,
                       sum(c) OVER (PARTITION BY event_type) AS n
                FROM grid
            ),
            med AS (
                SELECT event_type,
                       (min(CASE WHEN cm >= floor((n + 1) / 2)
                                 THEN v END)
                        + min(CASE WHEN cm >= floor(n / 2) + 1
                                   THEN v END)) / 2.0 AS m
                FROM cum GROUP BY 1
            ),
            signed AS (
                SELECT daily.event_type, day,
                       (v >= m)::INT AS s
                FROM daily JOIN med ON daily.event_type = med.event_type
            ),
            runs AS (
                SELECT event_type,
                       count(*) AS n_days,
                       sum(s) AS n_plus,
                       sum(1 - s) AS n_minus,
                       1 + sum(CASE WHEN prev IS NOT NULL AND s <> prev
                                    THEN 1 ELSE 0 END) AS n_runs
                FROM (SELECT event_type, day, s,
                             lag(s) OVER (PARTITION BY event_type
                                          ORDER BY day) AS prev
                      FROM signed)
                GROUP BY 1
            )
            SELECT event_type, n_days,
                   n_plus::BIGINT AS n_plus, n_minus::BIGINT AS n_minus,
                   n_runs::BIGINT AS n_runs,
                   CASE WHEN n_plus > 0 AND n_minus > 0 THEN
                       round((n_runs - (1.0 + 2.0 * n_plus * n_minus
                                        / (n_plus + n_minus)))
                             / sqrt(2.0 * n_plus * n_minus
                                    * (2.0 * n_plus * n_minus
                                       - (n_plus + n_minus))
                                    / ((n_plus + n_minus)
                                       * (n_plus + n_minus)
                                       * ((n_plus + n_minus) - 1.0))), 6)
                   END AS z
            FROM runs ORDER BY event_type
        """)
def q_runs_test(spark, sf_dir):
    # Wald-Wolfowitz serial-randomness screen on daily revenue per
    # event type: exact integer runs/sign counts over the calendar
    # grid, z as a noise-digit double (stats.py:runs_test).
    return ST.runs_test(_t(spark, sf_dir, "events"), "event_type", "ts", "value")
