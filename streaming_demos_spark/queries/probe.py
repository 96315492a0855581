"""``probe_*`` keys: driver-environment probes (operators/probes.py).
Each probe is one data-free or checksum-exact red/green bit whose
pattern in the correctness records localizes a driver-only divergence
(data slice vs timestamp values vs comparison semantics vs engine build
vs harness env). Every oracle is a literal restatement of the Spark
expression; a driver red on any probe is diagnostic signal, not an
engine defect.
"""

from __future__ import annotations

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import probes as PR
from streaming_demos_spark.queries import key


# Checksum of one lineitem / orders ship-date slice -- the oracle of
# the probe_li_* / probe_ord_* keys (PR.slice_checksums_*).
def _lineitem_slice_sql(lo, hi):
    return f"""
            SELECT count(*)::BIGINT AS n,
                   coalesce(sum((l_orderkey * 97 + l_partkey * 89
                                 + l_suppkey * 83 + l_linenumber * 79)
                                % 1000000007), 0)::BIGINT AS ck_key,
                   coalesce(sum(cast(round(l_extendedprice * 100) as bigint)),
                            0)::BIGINT AS ck_price_e2,
                   coalesce(sum(cast(round(l_discount * 100) as bigint)),
                            0)::BIGINT AS ck_disc_e2,
                   coalesce(sum(cast(round(l_quantity) as bigint)),
                            0)::BIGINT AS ck_qty,
                   coalesce(sum(datediff('day', DATE '1970-01-01',
                                         CAST(l_shipdate AS DATE))),
                            0)::BIGINT AS ck_day,
                   coalesce(sum(ascii(l_returnflag) * 256
                                + ascii(l_linestatus)), 0)::BIGINT AS ck_flag
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{lo}'
              AND l_shipdate <  TIMESTAMP '{hi}'
            """


def _orders_slice_sql(lo, hi):
    return f"""
            SELECT count(*)::BIGINT AS n,
                   coalesce(sum((o_orderkey * 97 + o_custkey * 89)
                                % 1000000007), 0)::BIGINT AS ck_key,
                   coalesce(sum(cast(round(o_totalprice * 100) as bigint)),
                            0)::BIGINT AS ck_price_e2,
                   coalesce(sum(datediff('day', DATE '1970-01-01',
                                         CAST(o_orderdate AS DATE))),
                            0)::BIGINT AS ck_day,
                   coalesce(sum(ascii(o_orderstatus)), 0)::BIGINT AS ck_status,
                   coalesce(sum(length(o_orderpriority)), 0)::BIGINT AS ck_prio
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '{lo}'
              AND o_orderdate <  TIMESTAMP '{hi}'
            """


@key(
    "probe_li_9596",
    oracle=lambda: _lineitem_slice_sql("1995-01-01", "1997-01-01"),
)
def q_probe_li_9596(spark, sf_dir):
    return PR.slice_checksums_lineitem(
        _t(spark, sf_dir, "lineitem"), "1995-01-01", "1997-01-01")


@key(
    "probe_li_97h1",
    oracle=lambda: _lineitem_slice_sql("1997-01-01", "1997-07-01"),
)
def q_probe_li_97h1(spark, sf_dir):
    return PR.slice_checksums_lineitem(
        _t(spark, sf_dir, "lineitem"), "1997-01-01", "1997-07-01")


@key(
    "probe_li_97q3",
    oracle=lambda: _lineitem_slice_sql("1997-07-01", "1997-10-01"),
)
def q_probe_li_97q3(spark, sf_dir):
    # the slice tpch_q15 (GREEN) aggregates — expected green control
    return PR.slice_checksums_lineitem(
        _t(spark, sf_dir, "lineitem"), "1997-07-01", "1997-10-01")


@key(
    "probe_li_97q4",
    oracle=lambda: _lineitem_slice_sql("1997-10-01", "1998-01-01"),
)
def q_probe_li_97q4(spark, sf_dir):
    # inside tpch_q5/q6/q12's red year, adjacent to the green Q3
    return PR.slice_checksums_lineitem(
        _t(spark, sf_dir, "lineitem"), "1997-10-01", "1998-01-01")


@key(
    "probe_li_98",
    oracle=lambda: _lineitem_slice_sql("1998-01-01", "1999-01-01"),
)
def q_probe_li_98(spark, sf_dir):
    return PR.slice_checksums_lineitem(
        _t(spark, sf_dir, "lineitem"), "1998-01-01", "1999-01-01")


@key(
    "probe_li_99p",
    oracle=lambda: _lineitem_slice_sql("1999-01-01", "2002-01-01"),
)
def q_probe_li_99p(spark, sf_dir):
    return PR.slice_checksums_lineitem(
        _t(spark, sf_dir, "lineitem"), "1999-01-01", "2002-01-01")


@key(
    "probe_ord_9596",
    oracle=lambda: _orders_slice_sql("1995-01-01", "1997-01-01"),
)
def q_probe_ord_9596(spark, sf_dir):
    return PR.slice_checksums_orders(
        _t(spark, sf_dir, "orders"), "1995-01-01", "1997-01-01")


@key(
    "probe_ord_97q123",
    oracle=lambda: _orders_slice_sql("1997-01-01", "1997-10-01"),
)
def q_probe_ord_97q123(spark, sf_dir):
    # covers tpch_q4's GREEN quarter
    return PR.slice_checksums_orders(
        _t(spark, sf_dir, "orders"), "1997-01-01", "1997-10-01")


@key(
    "probe_ord_97q4",
    oracle=lambda: _orders_slice_sql("1997-10-01", "1998-01-01"),
)
def q_probe_ord_97q4(spark, sf_dir):
    # tpch_q10's RED quarter
    return PR.slice_checksums_orders(
        _t(spark, sf_dir, "orders"), "1997-10-01", "1998-01-01")


@key(
    "probe_ord_98p",
    oracle=lambda: _orders_slice_sql("1998-01-01", "2002-01-01"),
)
def q_probe_ord_98p(spark, sf_dir):
    return PR.slice_checksums_orders(
        _t(spark, sf_dir, "orders"), "1998-01-01", "2002-01-01")


@key("probe_ev_values", oracle="""
            SELECT count(*)::BIGINT AS n,
                   sum(event_id % 1000000007)::BIGINT AS ck_id,
                   sum(user_id % 1000000007)::BIGINT AS ck_user,
                   sum(cast(round(value * 10000) as bigint))::BIGINT
                       AS ck_value_e4,
                   sum(length(event_type))::BIGINT AS ck_type,
                   sum(length(coalesce(props, '')))::BIGINT AS ck_props
            FROM events
        """)
def q_probe_ev_values(spark, sf_dir):
    return PR.events_value_checksums(_t(spark, sf_dir, "events"))


@key("probe_ev_epoch", oracle="""
            SELECT count(*)::BIGINT AS n,
                   sum(epoch_us(ts) - 1704067200000000)::BIGINT AS sum_off_us,
                   sum(epoch_us(ts) % 1000000)::BIGINT AS sum_tail_us,
                   sum((epoch_us(ts) - 1704067200000000)
                       // 86400000000)::BIGINT AS sum_day,
                   min(epoch_us(ts) - 1704067200000000)::BIGINT AS min_off_us,
                   max(epoch_us(ts) - 1704067200000000)::BIGINT AS max_off_us
            FROM events
        """)
def q_probe_ev_epoch(spark, sf_dir):
    return PR.events_epoch_checksums(_t(spark, sf_dir, "events"))


@key("probe_pred_domains", oracle="""
            WITH li AS (
                SELECT
                  sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                            AND l_shipdate <  TIMESTAMP '1998-01-01'
                           THEN 1 ELSE 0 END)::BIGINT AS li_lit,
                  sum(CASE WHEN epoch_us(l_shipdate) >= 852076800000000
                            AND epoch_us(l_shipdate) <  883612800000000
                           THEN 1 ELSE 0 END)::BIGINT AS li_epoch,
                  sum(CASE WHEN CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
                            AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
                           THEN 1 ELSE 0 END)::BIGINT AS li_date,
                  sum(CASE WHEN strftime(l_shipdate, '%Y-%m-%d')
                                BETWEEN '1997-01-01' AND '1997-12-31'
                           THEN 1 ELSE 0 END)::BIGINT AS li_str
                FROM lineitem
            ),
            od AS (
                SELECT
                  sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-10-01'
                            AND o_orderdate <  TIMESTAMP '1998-01-01'
                           THEN 1 ELSE 0 END)::BIGINT AS ord_lit,
                  sum(CASE WHEN epoch_us(o_orderdate) >= 875664000000000
                            AND epoch_us(o_orderdate) <  883612800000000
                           THEN 1 ELSE 0 END)::BIGINT AS ord_epoch
                FROM orders
            )
            SELECT li.*, od.* FROM li, od
        """)
def q_probe_pred_domains(spark, sf_dir):
    return PR.predicate_domains(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"))


@key("probe_round_canary", oracle="""
            SELECT
              cast(round(2.5E0)  as bigint) AS r_half_pos,
              cast(round(-2.5E0) as bigint) AS r_half_neg,
              cast(round(0.49999999999999994E0) as bigint) AS r_below_half,
              cast(round(2.675E0, 2) * 1000 as bigint) AS r_2675_2,
              cast(round(1.045E0, 2) * 1000 as bigint) AS r_1045_2,
              cast(round(1234.5E0) as bigint) AS r_12345,
              cast(round(8771.19E0 * 0.07E0 * 10000) as bigint) AS r_e4_device,
              cast(round(4503599627370496.5E0) as bigint) AS r_big_mid,
              cast(round((0.1E0 + 0.2E0) * 1E17) as bigint) AS r_dbl_sum
        """)
def q_probe_round_canary(spark, sf_dir):
    return PR.engine_round_canary(spark)


@key("probe_libm_canary", oracle="""
            SELECT
              cast(round(ln(3E0)    * 1E12) as bigint) AS ln3_e12,
              cast(round(ln(7E0)    * 1E12) as bigint) AS ln7_e12,
              cast(round(ln(1E0 + 0.123456789E0) * 1E12) as bigint) AS log1p_e12,
              cast(round(exp(1.5E0) * 1E12) as bigint) AS exp15_e12,
              cast(round(sqrt(7E0)  * 1E12) as bigint) AS sqrt7_e12,
              cast(round(power(1.1E0, 7.3E0) * 1E12) as bigint) AS pow_e12,
              cast(round(sin(1E0)   * 1E12) as bigint) AS sin1_e12,
              cast(round(atan2(1E0, 2E0) * 1E12) as bigint) AS atan2_e12
        """)
def q_probe_libm_canary(spark, sf_dir):
    return PR.engine_libm_canary(spark)


@key("probe_hash_canary", oracle="""
            SELECT
              ('0x' || substr(md5('12345'), 1,  6))::BIGINT % 4096 AS bit_a0,
              ('0x' || substr(md5('12345'), 7,  6))::BIGINT % 4096 AS bit_a1,
              ('0x' || substr(md5('12345'), 13, 6))::BIGINT % 4096 AS bit_a2,
              ('0x' || substr(md5('98765'), 1,  6))::BIGINT % 4096 AS bit_b0,
              ('0x' || substr(md5('alpha'), 1,  6))::BIGINT % 256  AS bucket_alpha,
              ('0x' || substr(md5(''),      1,  6))::BIGINT % 256  AS bucket_empty
        """)
def q_probe_hash_canary(spark, sf_dir):
    return PR.engine_hash_canary(spark)


@key("probe_render_canary", oracle="""
            SELECT
              1 AS row_id,
              TIMESTAMP '1997-10-01 12:34:56.789' AS ts_ntz,
              'MIXED case; punct!' AS s_val,
              cast(0.25E0 as double) AS dbl_exact,
              cast(0.1E0 as double) + cast(0.2E0 as double) AS dbl_inexact,
              cast(9007199254740993 as bigint) AS big_53
            UNION ALL
            SELECT
              2,
              cast(NULL as TIMESTAMP),
              cast(NULL as VARCHAR),
              cast(NULL as DOUBLE),
              cast(NULL as DOUBLE),
              cast(NULL as BIGINT)
        """)
def q_probe_render_canary(spark, sf_dir):
    return PR.engine_render_canary(spark)


@key("probe_env_tz", oracle="SELECT 'UTC' AS tz_name")
def q_probe_env_tz(spark, sf_dir):
    return PR.env_session_tz(spark)


@key("probe_env_versions", oracle="""
            SELECT '4.1.2' AS spark_semver,
                   substr(version(), 2) AS duck_semver
        """)
def q_probe_env_versions(spark, sf_dir):
    return PR.env_spark_version(spark).crossJoin(
        PR.env_duckdb_version(spark))
