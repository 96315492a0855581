"""``llm_*`` keys that compose operators/selection.py: feature hashing,
DSIR importance weights and temperature mixing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import selection as SEL
from streaming_demos_spark.queries import key


# DSIR hashed-n-gram importance weights (unigrams + word bigrams into
# 256 md5 buckets; add-one-smoothed target/raw multinomials; target =
# lang 'en'). Shared by the weights and resample oracles.
_SQL_DSIR_CTE = """
    WITH w AS (
        SELECT doc_id, lang,
               string_split_regex(lower(trim(text)), '\\s+') AS words
        FROM documents
    ),
    g AS (
        SELECT doc_id, lang,
               unnest(list_concat(
                   words,
                   list_transform(range(1, len(words)),
                                  i -> words[i] || ' ' || words[i + 1])
               )) AS gram
        FROM w
    ),
    feat AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(gram), 1, 6))::BIGINT % 256 AS bucket,
               count(*) AS cnt
        FROM g GROUP BY 1, 2, 3
    ),
    pb AS (
        SELECT bucket, sum(cnt) AS r_b,
               sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS t_b
        FROM feat GROUP BY 1
    ),
    tot AS (SELECT sum(r_b) AS r_tot, sum(t_b) AS t_tot FROM pb),
    ratio AS (
        SELECT bucket,
               ln((t_b + 1) / (t_tot + 256.0))
             - ln((r_b + 1) / (r_tot + 256.0)) AS log_ratio
        FROM pb, tot
    ),
    lw AS (
        SELECT f.doc_id, round(sum(f.cnt * r.log_ratio), 4) AS log_weight
        FROM feat f JOIN ratio r USING (bucket) GROUP BY 1
    )
"""


@key("llm_dsir_weights", oracle=lambda: _SQL_DSIR_CTE + """
            SELECT doc_id, log_weight FROM lw
        """)
def q_dsir_weights(spark, sf_dir):
    # DSIR-style importance weight (Xie et al. 2023, public) of every
    # document against an English-target hashed-n-gram multinomial:
    # corpus-sized work is doc-keyed; the 256-bucket ratio table joins
    # back by broadcast (selection.py:dsir_log_weights).
    docs = _t(spark, sf_dir, "documents")
    return SEL.dsir_log_weights(
        docs, F.col("lang") == "en", num_buckets=256, round_dp=4
    )


@key("llm_dsir_resample", oracle=lambda: _SQL_DSIR_CTE + """
            SELECT doc_id, log_weight,
                   round(log_weight - ln(-ln(
                       (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                        + 0.5) / 4294967296.0)), 4) AS sample_key
            FROM lw
            ORDER BY sample_key DESC, doc_id ASC
            LIMIT 50
        """)
def q_dsir_resample(spark, sf_dir):
    # Gumbel-top-k resample of the DSIR weights: deterministic
    # md5-uniforms make the weighted without-replacement draw a plain
    # distributed top-k (TakeOrderedAndProject, no global sort).
    docs = _t(spark, sf_dir, "documents")
    w = SEL.dsir_log_weights(
        docs, F.col("lang") == "en", num_buckets=256, round_dp=4
    )
    return SEL.dsir_resample(w, k=50)


@key("llm_temperature_mix", oracle="""
            WITH per AS (
                SELECT source, sum(n_chars) AS n_tokens
                FROM documents GROUP BY 1
                HAVING sum(n_chars) > 0
            ),
            tot AS (
                SELECT sum(n_tokens) AS _tot,
                       sum(pow(n_tokens::DOUBLE, 0.3)) AS _z
                FROM per
            )
            SELECT source, n_tokens::BIGINT AS n_tokens,
                   ((n_tokens * 1000000 * 2 + _tot)
                    // (2 * _tot))::BIGINT AS nat_frac_e6,
                   round(pow(n_tokens::DOUBLE, 0.3) / _z, 6) AS mix_weight,
                   round(pow(n_tokens::DOUBLE, 0.3) / _z * 1000000.0
                         / n_tokens, 6) AS epochs
            FROM per, tot ORDER BY source
        """)
def q_temperature_mix(spark, sf_dir):
    # Temperature-scaled domain mixture (p_i^0.3 rule) + effective
    # epochs at a 1M-token budget — one |sources|-row aggregate.
    return SEL.temperature_mix(
        _t(spark, sf_dir, "documents"),
        "source",
        "n_chars",
        alpha=0.3,
        token_budget=1_000_000,
    )


@key("llm_feature_hash", oracle="""
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)),
                                                 '\\s+')) AS t
                FROM documents WHERE doc_id % 7 = 0
            ),
            h AS (
                SELECT doc_id,
                       ('0x' || substr(md5(t), 1, 6))::BIGINT % 64 AS idx,
                       CASE WHEN ('0x' || substr(md5(t), 7, 1))::BIGINT
                                 % 2 = 0
                            THEN 1 ELSE -1 END AS s
                FROM toks
            )
            SELECT doc_id, idx, sum(s)::BIGINT AS val
            FROM h GROUP BY 1, 2 HAVING sum(s) != 0
            ORDER BY doc_id, idx
        """)
def q_feature_hash(spark, sf_dir):
    # Signed hashing-trick vectorizer (Weinberger et al. 2009) over a
    # 1-in-7 document sample: token -> md5 bucket mod 64 with an
    # independent sign bit, signs summed per (doc, idx) so collisions
    # cancel in expectation (selection.py:feature_hash_signed).
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    return SEL.feature_hash_signed(docs, dim=64).orderBy("doc_id", "idx")
