"""``ext_*`` keys that compose operators/curation.py and
operators/training.py: k-anonymity, rater agreement, decayed
engagement and target encoding.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import curation as CU
from streaming_demos_spark.operators import text as TX
from streaming_demos_spark.operators import training as TR
from streaming_demos_spark.queries import key


@key("ext_k_anonymity", oracle="""
            WITH c AS (
                SELECT c_nationkey, round(c_acctbal, 0) AS bal_dollars,
                       c_mktsegment
                FROM customer
            )
            SELECT c_nationkey, bal_dollars,
                   count(*) AS class_size,
                   count(DISTINCT c_mktsegment) AS l_diversity,
                   ((1000000 * 2 + count(*))
                    // (2 * count(*)))::BIGINT AS max_reident_risk_e6
            FROM c GROUP BY 1, 2 HAVING count(*) < 5
            ORDER BY c_nationkey, bal_dollars
        """)
def q_k_anonymity(spark, sf_dir):
    # Re-identification audit of the customer table: equivalence
    # classes over (nation, whole-dollar balance) smaller than k=5,
    # with market-segment l-diversity (curation.py:k_anonymity_profile).
    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.round("c_acctbal", 0).alias("bal_dollars"),
        "c_mktsegment",
    )
    return CU.k_anonymity_profile(
        cust,
        ["c_nationkey", "bal_dollars"],
        sensitive_col="c_mktsegment",
        k=5,
    ).orderBy("c_nationkey", "bal_dollars")


@key("ext_target_encoding", oracle="""
            WITH rws AS (
                SELECT o.o_orderkey, c.c_mktsegment,
                       o.o_totalprice::DOUBLE AS y
                FROM orders o JOIN customer c
                  ON o.o_custkey = c.c_custkey
            ),
            per AS (
                SELECT c_mktsegment, count(y) AS n, sum(y) AS s
                FROM rws GROUP BY 1
            ),
            prior AS (SELECT avg(y) AS prior FROM rws)
            SELECT r.o_orderkey, r.c_mktsegment,
                   round((s - y + 20.0 * prior) / (n - 1 + 20.0), 6)
                       AS loo_enc
            FROM rws r JOIN per USING (c_mktsegment), prior
            ORDER BY o_orderkey
        """)
def q_target_encoding(spark, sf_dir):
    # Leakage-safe leave-one-out target encoding of the customer
    # market segment against order value, shrunk toward the global
    # prior (m=20) — per-category aggregate broadcast back, singleton
    # categories fall back to the prior (training.py:target_encode_loo).
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rows = o.select("o_orderkey", "o_custkey", "o_totalprice").join(
        c, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        TR.target_encode_loo(rows, "c_mktsegment", "o_totalprice")
        .select("o_orderkey", "c_mktsegment", "loo_enc")
        .orderBy("o_orderkey")
    )


@key("ext_cohens_kappa", oracle="""
            WITH f AS (
                SELECT (n_chars >= 250)::INT AS a,
                       (len(string_split_regex(lower(trim(text)), '\\s+'))
                        >= 50)::INT AS b
                FROM documents
            ),
            cells AS (SELECT a, b, count(*) AS n FROM f GROUP BY 1, 2),
            tot AS (SELECT sum(n) AS t FROM cells),
            po AS (
                SELECT coalesce(sum(n), 0) AS agree
                FROM cells WHERE a = b
            ),
            ma AS (SELECT a, sum(n) AS na FROM cells GROUP BY 1),
            mb AS (SELECT b, sum(n) AS nb FROM cells GROUP BY 1),
            pe AS (
                SELECT sum(na * nb) AS sab
                FROM ma JOIN mb ON ma.a = mb.b
            ),
            base AS (
                SELECT tot.t::BIGINT AS n,
                       ((agree * 1000000 * 2 + t) // (2 * t))::BIGINT
                           AS po_e6,
                       ((sab * 1000000 * 2 + t * t)
                        // (2 * t * t))::BIGINT AS pe_e6
                FROM tot CROSS JOIN po CROSS JOIN pe
            )
            SELECT n, po_e6, pe_e6,
                   CASE WHEN pe_e6 < 1000000 THEN
                       ((CASE WHEN po_e6 < pe_e6 THEN -1 ELSE 1 END)
                        * ((abs(po_e6 - pe_e6) * 1000000 * 2
                            + (1000000 - pe_e6))
                           // (2 * (1000000 - pe_e6))))::BIGINT
                   END AS kappa_e6
            FROM base
        """)
def q_cohens_kappa(spark, sf_dir):
    # Agreement between two quality gates (length vs token-count)
    # beyond chance (curation.py:cohens_kappa).
    docs = _t(spark, sf_dir, "documents")
    return CU.cohens_kappa(
        docs,
        F.col("n_chars") >= 250,
        TX.token_count("text") >= 50,
    )


_DECAY_REF = "2024-01-25 00:00:00"


@key("ext_decayed_engagement", oracle="""
            SELECT user_id,
                   count(*) AS n_events,
                   round(sum(power(0.5,
                       ((epoch_us(TIMESTAMP '2024-01-25 00:00:00')
                         - epoch_us(ts)) / 1000000.0)
                       / 86400.0)), 6) AS decayed_count,
                   round(sum(power(0.5,
                       ((epoch_us(TIMESTAMP '2024-01-25 00:00:00')
                         - epoch_us(ts)) / 1000000.0)
                       / 86400.0) * coalesce(value, 0.0::DOUBLE)), 6)
                       AS decayed_value
            FROM events
            WHERE ts <= TIMESTAMP '2024-01-25 00:00:00'
            GROUP BY 1
        """)
def q_decayed_engagement(spark, sf_dir):
    # Frecency: per-user half-life-decayed event count/value as of a
    # fixed reference instant — map-side weights, one combinable
    # aggregation (curation.py:decayed_engagement).
    return CU.decayed_engagement(
        _t(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "value",
        _DECAY_REF,
        half_life_sec=86400.0,
    )
