"""``ext_*`` keys that compose operators/sketches.py: Bloom-filter
semi-join, count-min term counts and heavy hitters.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import sketches as SK
from streaming_demos_spark.operators import text as TX
from streaming_demos_spark.queries import key


@key("ext_heavy_hitters", oracle="""
            WITH w AS (
                SELECT string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            toks AS (SELECT unnest(words) AS term FROM w),
            c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
            t AS (SELECT count(*) AS _n FROM toks)
            SELECT term, cnt,
                   ((cnt * 1000000 * 2 + _n) // (2 * _n))::BIGINT AS freq_e6
            FROM c, t
            WHERE cnt * 100 > _n
            ORDER BY cnt DESC, term ASC
        """)
def q_heavy_hitters(spark, sf_dir):
    # Exact heavy hitters (freq > N/k) via map-side Misra-Gries
    # candidates + exact candidate-only recount — the vocabulary is
    # never a shuffle key (sketches.py:heavy_hitters).
    return SK.heavy_hitter_terms(_t(spark, sf_dir, "documents"), k=100)


_CMS_PROBES = ["a", "key", "spark", "table", "value", "zzz_absent"]


@key("ext_cms_term_counts", oracle="""
            WITH toks AS (
                SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
                FROM documents
            ),
            cells AS (
                SELECT r.range AS row,
                       ('0x' || substr(md5(term), 1 + 6 * r.range, 6))::BIGINT % 256 AS bucket,
                       count(*) AS cnt
                FROM toks, range(4) r
                GROUP BY 1, 2
            ),
            probes AS (
                SELECT p.term, r.range AS row,
                       ('0x' || substr(md5(p.term), 1 + 6 * r.range, 6))::BIGINT % 256 AS bucket
                FROM (SELECT unnest(['a','key','spark','table','value','zzz_absent']) AS term) p,
                     range(4) r
            ),
            est AS (
                SELECT probes.term, min(coalesce(cells.cnt, 0)) AS est
                FROM probes LEFT JOIN cells USING (row, bucket)
                GROUP BY probes.term
            ),
            ex AS (
                SELECT term, count(*) AS exact FROM toks
                WHERE term IN ('a','key','spark','table','value','zzz_absent')
                GROUP BY term
            )
            SELECT est.term, est.est,
                   coalesce(ex.exact, 0) AS exact,
                   est.est - coalesce(ex.exact, 0) AS overcount
            FROM est LEFT JOIN ex USING (term)
            ORDER BY est.term
        """)
def q_cms_term_counts(spark, sf_dir):
    # Count-min sketch (d=4, w=256) over corpus tokens + point
    # estimates for a fixed probe list vs exact counts — the one-sided
    # est >= exact guarantee is visible in the overcount column
    # (sketches.py:count_min_sketch/cms_estimates).
    from streaming_demos_spark.catalog import fan_out

    docs = _t(spark, sf_dir, "documents")
    # the token stream feeds BOTH the sketch and the exact probe
    # counts — tokenize once (persist), don't re-run the regex scan
    toks = (
        fan_out(docs.select("doc_id", "text"), "doc_id")
        .select(F.explode(TX.tokens("text")).alias("term"))
        .persist()
    )
    sk = SK.count_min_sketch(toks, "term", depth=4, width=256)
    est = SK.cms_estimates(sk, _CMS_PROBES, depth=4, width=256)
    exact = (
        toks.filter(F.col("term").isin(_CMS_PROBES))
        .groupBy("term")
        .agg(F.count("*").alias("exact"))
    )
    return (
        est.join(exact, "term", "left")
        .select(
            "term",
            "est",
            F.coalesce("exact", F.lit(0)).alias("exact"),
            (F.col("est") - F.coalesce("exact", F.lit(0))).alias("overcount"),
        )
        .orderBy("term")
    )


@key("ext_bloom_semijoin", oracle="""
            WITH li AS (
                SELECT l_partkey FROM lineitem
                WHERE l_shipdate >= '1995-03-01'
                  AND l_shipdate < '1995-04-01'
            ),
            bits AS (
                SELECT DISTINCT
                    ('0x' || substr(md5(l_partkey::VARCHAR),
                                    1 + 6 * r.range, 6))::BIGINT % 4096
                        AS bit
                FROM li, range(3) r
            ),
            probe_bits AS (
                SELECT p_partkey,
                       ('0x' || substr(md5(p_partkey::VARCHAR),
                                       1 + 6 * r.range, 6))::BIGINT % 4096
                           AS bit
                FROM part, range(3) r
            ),
            probed AS (
                SELECT pb.p_partkey,
                       min(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END) = 1
                           AS bloom_hit
                FROM probe_bits pb LEFT JOIN bits USING (bit)
                GROUP BY 1
            ),
            actual AS (SELECT DISTINCT l_partkey AS p_partkey FROM li),
            flagged AS (
                SELECT probed.bloom_hit,
                       actual.p_partkey IS NOT NULL AS is_member
                FROM probed LEFT JOIN actual USING (p_partkey)
            )
            SELECT count(*) AS n_probes,
                   sum(is_member::INT)::BIGINT AS n_members,
                   sum(bloom_hit::INT)::BIGINT AS n_hits,
                   sum((bloom_hit AND NOT is_member)::INT)::BIGINT AS n_false_pos,
                   sum((NOT is_member)::INT)::BIGINT AS n_non_members
            FROM flagged
        """)
def q_bloom_semijoin(spark, sf_dir):
    # Bloom-filter semi-join reduction: bits built over the parts
    # shipped in 1995-03, every part probed, exact membership joined
    # back to count false positives — one summary row with the
    # realized FP rate (sketches.py:bloom_bits/bloom_probe).
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-03-01"))
        & (F.col("l_shipdate") < F.lit("1995-04-01"))
    )
    bits = SK.bloom_bits(li, "l_partkey", num_hashes=3, num_bits=4096)
    part = _t(spark, sf_dir, "part").select("p_partkey")
    probed = SK.bloom_probe(bits, part, "p_partkey", num_hashes=3,
                            num_bits=4096)
    actual = li.select(
        F.col("l_partkey").alias("p_partkey")
    ).distinct().withColumn("is_member", F.lit(True))
    return (
        probed.join(actual, "p_partkey", "left")
        .select(
            "bloom_hit",
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
        )
        .groupBy()
        .agg(
            F.count("*").alias("n_probes"),
            F.sum(F.col("is_member").cast("int")).alias("n_members"),
            F.sum(F.col("bloom_hit").cast("int")).alias("n_hits"),
            F.sum(
                (F.col("bloom_hit") & ~F.col("is_member")).cast("int")
            ).alias("n_false_pos"),
            # exact integer denominator instead of a rounded ratio —
            # integer/integer quotients land ON decimal midpoints,
            # where Spark (HALF_UP on binary) and DuckDB (shortest-
            # decimal repr) disagree by the final digit
            F.sum((~F.col("is_member")).cast("int")).alias(
                "n_non_members"
            ),
        )
    )
