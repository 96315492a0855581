"""``llm_*`` keys that compose operators/curation.py: quality filters,
decontamination, sampling and mixing, packing and chunking, PII
redaction and corpus decompression.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import curation as CU
from streaming_demos_spark.operators import relational as R
from streaming_demos_spark.queries import key
from streaming_demos_spark.queries.llm_dedup import _sql_words
from streaming_demos_spark.queries.mm import _hex_le


@key("llm_weighted_sample", oracle="""
            WITH d AS (
                -- n_chars > 0 mirrors the operator's positive-weight
                -- contract (weight 0 = never keep).
                SELECT doc_id, text, lang, source, n_chars,
                       substr(md5(doc_id::VARCHAR), 1, 8) AS h
                FROM documents
                WHERE n_chars > 0
            ),
            u AS (
                SELECT doc_id, text, lang, source, n_chars,
                       list_sum(list_transform(range(1, 9),
                           i -> (strpos('0123456789abcdef', h[i]) - 1)::DOUBLE
                                * power(16.0, 8 - i))) / 4294967296.0 AS uu
                FROM d
            )
            SELECT doc_id, text, lang, source, n_chars FROM (
                SELECT doc_id, text, lang, source, n_chars,
                       row_number() OVER (PARTITION BY source
                           ORDER BY uu / n_chars ASC, doc_id ASC) AS rn
                FROM u
            ) WHERE rn <= 10
        """)
def q_weighted_sample(spark, sf_dir):
    # Deterministic PPS-flavored downsampling: 10 docs per source,
    # priority u/w with u = md5-uniform(doc_id), w = n_chars.
    return CU.weighted_priority_sample(
        _t(spark, sf_dir, "documents"),
        weight_col="n_chars",
        n_per_stratum=10,
        strata_col="source",
    )


@key("llm_decontaminate", oracle="""
            WITH w AS (
                SELECT doc_id, source,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            sh AS (
                SELECT doc_id, source,
                       CASE WHEN len(words) >= 3
                            THEN list_transform(range(1, len(words)-1),
                                                i -> array_to_string(words[i:i+2], ' '))
                            ELSE [array_to_string(words, ' ')] END AS shingles
                FROM w
            ),
            ex AS (
                SELECT doc_id, source, unnest(list_distinct(shingles)) AS shingle
                FROM sh
            ),
            bench AS (SELECT DISTINCT shingle FROM ex WHERE source = 'src0'),
            hits AS (
                SELECT e.doc_id, count(*) AS n_hits
                FROM ex e JOIN bench b USING (shingle)
                WHERE e.source <> 'src0'
                GROUP BY e.doc_id
            )
            SELECT d.doc_id,
                   coalesce(h.n_hits, 0) AS n_hits,
                   coalesce(h.n_hits, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.source <> 'src0'
        """)
def q_decontaminate(spark, sf_dir):
    # Benchmark decontamination: docs from src0 play the eval set; every
    # other doc is flagged if it shares any distinct word 3-gram with
    # them. Benchmark shingles broadcast; corpus side never shuffles by
    # shingle (stopword n-grams are the skew trap).
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return CU.decontaminate(corpus, bench, k=3, min_hits=1)


@key("llm_preference_pairs", oracle="""
            WITH b AS (
                SELECT source || '|' || lang AS bucket, doc_id,
                       round(n_chars::DOUBLE, 6) AS s
                FROM documents
            ),
            agg AS (
                SELECT bucket,
                       max(struct_pack(s := s, i := doc_id)) AS mx,
                       min(struct_pack(s := s, i := doc_id)) AS mn,
                       count(*) AS n_docs
                FROM b GROUP BY bucket
            )
            SELECT bucket, mx.i AS chosen_id, mn.i AS rejected_id,
                   mx.s AS chosen_score, mn.s AS rejected_score,
                   round(mx.s - mn.s, 6) AS margin, n_docs
            FROM agg
            WHERE n_docs >= 2 AND round(mx.s - mn.s, 6) >= 1.0
              AND mx.i <> mn.i
            ORDER BY bucket
        """)
def q_preference_pairs(spark, sf_dir):
    # DPO/reward-model pair construction: per (source, lang) prompt
    # bucket, highest- vs lowest-scoring doc by a quality proxy
    # (n_chars), deterministic struct-max/min, one aggregation
    # (curation.py:preference_pairs).
    docs = _t(spark, sf_dir, "documents").withColumn(
        "bucket", F.concat_ws("|", "source", "lang")
    )
    return CU.preference_pairs(docs, "bucket", "n_chars", min_margin=1.0)


@key("llm_interleave_shards", oracle="""
            WITH h AS (
                SELECT doc_id,
                       md5('ep0' || doc_id::VARCHAR) AS hx
                FROM documents
            ),
            s AS (
                -- mod-16 of the first 8 md5 hex digits == digit #8
                SELECT doc_id, hx,
                       strpos('0123456789abcdef', substr(hx, 8, 1)) - 1
                           AS shard
                FROM h
            )
            SELECT doc_id, shard,
                   row_number() OVER (
                       PARTITION BY shard ORDER BY hx, doc_id) AS pos
            FROM s
        """)
def q_interleave_shards(spark, sf_dir):
    # Deterministic training-order export: seeded md5 permutation ->
    # (shard, position); hash order interleaves domains uniformly
    # (curation.py:interleave_shards).
    return CU.interleave_shards(
        _t(spark, sf_dir, "documents"), n_shards=16, seed="ep0"
    )


@key("llm_contamination_matrix", oracle="""
            WITH w AS (
                SELECT doc_id, source, lang,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            sh AS (
                SELECT doc_id, source, lang,
                       CASE WHEN len(words) >= 3
                            THEN list_transform(range(1, len(words)-1),
                                                i -> array_to_string(words[i:i+2], ' '))
                            ELSE [array_to_string(words, ' ')] END AS shingles
                FROM w
            ),
            ex AS (
                SELECT doc_id, source, lang,
                       unnest(list_distinct(shingles)) AS shingle
                FROM sh
            ),
            bench AS (
                SELECT DISTINCT lang AS benchmark, shingle
                FROM ex WHERE source = 'src0'
            ),
            contaminated AS (
                SELECT e.doc_id, b.benchmark
                FROM ex e JOIN bench b USING (shingle)
                WHERE e.source <> 'src0'
                GROUP BY e.doc_id, b.benchmark
                HAVING count(*) >= 1
            ),
            cells AS (
                SELECT d.source, c.benchmark, count(*) AS n_contaminated
                FROM contaminated c
                JOIN documents d USING (doc_id)
                GROUP BY d.source, c.benchmark
            ),
            totals AS (
                SELECT source, count(*) AS n_docs FROM documents
                WHERE source <> 'src0' GROUP BY source
            )
            SELECT c.source, c.benchmark, c.n_contaminated, t.n_docs,
                   ((c.n_contaminated * 1000000 * 2 + t.n_docs)
                    // (2 * t.n_docs))::BIGINT AS rate_e6
            FROM cells c JOIN totals t USING (source)
            ORDER BY c.source, c.benchmark
        """)
def q_contamination_matrix(spark, sf_dir):
    # Per (source x benchmark) leak-rate triage: src0 docs split by lang
    # play two benchmarks; every other source is scored against both
    # (curation.py:contamination_matrix).
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return CU.contamination_matrix(
        corpus, bench, bench_name_col="lang", k=3, min_hits=1
    )


# mod-16 of the first 8 md5 hex digits == the value of digit #8 — the
# oracle reads that digit directly (DuckDB has no hex->int conv()).
@key("llm_shard_profile", oracle="""
    SELECT strpos('0123456789abcdef',
                  substr(md5(doc_id::VARCHAR), 8, 1)) - 1 AS shard,
           count(*) AS n_rows,
           sum(n_chars)::BIGINT AS n_tokens
    FROM documents
    GROUP BY 1 ORDER BY 1
""")
def q_shard_profile(spark, sf_dir):
    # Pre-flight balance report for a training-shard export: rows +
    # payload bytes per content-hash shard (curation.py:shard_profile;
    # the writer itself is write_training_shards, proven deterministic
    # in tests/test_curation.py).
    return CU.shard_profile(
        _t(spark, sf_dir, "documents"), num_shards=16, token_col="n_chars"
    )


def _sql_fuzzy_decontaminate(
    threshold: float = 0.1, num_hashes: int = 12, band_rows: int = 3
) -> str:
    """DuckDB replay of the two-table MinHash decontamination pipeline
    (corpus = source <> 'src0', benchmark = source = 'src0'); exact
    integer threshold + half-up e4 best similarity."""
    from fractions import Fraction

    _f = Fraction(str(threshold))
    p_, q_ = _f.numerator, _f.denominator
    mh_exprs = ",\n               ".join(
        f"list_min(list_transform(shingles, s -> md5('{h}|' || s))) AS mh_{h}"
        for h in range(num_hashes)
    )
    n_bands = num_hashes // band_rows

    def bands(sig: str) -> str:
        return "\n            UNION ALL ".join(
            "SELECT doc_id, {b} AS band_id, md5({cat}) AS band_hash FROM {sig}".format(
                b=b,
                sig=sig,
                cat=" || '|' || ".join(
                    f"mh_{b * band_rows + r}" for r in range(band_rows)
                ),
            )
            for b in range(n_bands)
        )

    shingle_body = (
        "SELECT doc_id, CASE WHEN len(words) >= 3 "
        "THEN list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2], ' ')) "
        "ELSE [array_to_string(words, ' ')] END AS shingles FROM {w}"
    )
    return f"""
        WITH cw AS ({_sql_words("documents")} WHERE source <> 'src0'),
        csh AS ({shingle_body.format(w="cw")}),
        bw AS ({_sql_words("documents")} WHERE source = 'src0'),
        bsh AS ({shingle_body.format(w="bw")}),
        csig AS (SELECT doc_id, {mh_exprs} FROM csh),
        bsig AS (SELECT doc_id, {mh_exprs} FROM bsh),
        cbands AS ({bands("csig")}),
        bbands AS ({bands("bsig")}),
        csized AS (
            SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS bucket_n
            FROM cbands
        ),
        cand AS (
            SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid
            FROM (SELECT * FROM csized WHERE bucket_n <= 50) c
            JOIN bbands b
              ON c.band_id = b.band_id AND c.band_hash = b.band_hash
        ),
        scored AS (
            SELECT cid, bid,
                   len(list_intersect(list_distinct(sc.shingles),
                                      list_distinct(sb.shingles))) AS i,
                   len(list_distinct(sc.shingles))
                   + len(list_distinct(sb.shingles))
                   - len(list_intersect(list_distinct(sc.shingles),
                                        list_distinct(sb.shingles))) AS u
            FROM cand
            JOIN csh sc ON cand.cid = sc.doc_id
            JOIN bsh sb ON cand.bid = sb.doc_id
        ),
        hits AS (
            SELECT cid,
                   max((i * 10000 * 2 + u) // (2 * u)) AS best_jaccard_e4,
                   count(*) AS n_matches
            FROM scored WHERE u > 0 AND i * {q_} >= {p_} * u
            GROUP BY cid
        )
        SELECT d.doc_id, h.cid IS NOT NULL AS contaminated,
               coalesce(h.best_jaccard_e4, 0)::BIGINT AS best_jaccard_e4,
               coalesce(h.n_matches, 0) AS n_matches
        FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
        LEFT JOIN hits h ON d.doc_id = h.cid
    """


@key(
    "llm_decontaminate_fuzzy",
    oracle=lambda: _sql_fuzzy_decontaminate(threshold=0.1),
)
def q_fuzzy_decontaminate(spark, sf_dir):
    # Fuzzy (MinHash-LSH) benchmark decontamination: src0 docs play the
    # eval set; corpus docs are flagged when their exact-Jaccard-verified
    # similarity to any benchmark doc reaches 0.1. Benchmark bands and
    # shingles ride broadcasts — the corpus side never shuffles.
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return CU.fuzzy_decontaminate(corpus, bench, threshold=0.1)


@key("llm_stratified_sample", oracle="""
            SELECT doc_id, lang, source, n_chars
            FROM documents
            WHERE substr(md5(doc_id::VARCHAR), 1, 4) <
                  CASE lang WHEN 'en' THEN '4000'
                            WHEN 'zh' THEN '8000'
                            ELSE 'zzzz' END
        """)
def q_stratified_sample(spark, sf_dir):
    # Deterministic md5-keyed downsampling: keep 25% of English and 50%
    # of Chinese docs, everything else intact — reproducible across
    # engines/partitionings (pure function of doc_id). Map-side filter,
    # zero shuffle.
    docs = _t(spark, sf_dir, "documents")
    return CU.stratified_sample(
        docs, "lang", {"en": 0.25, "zh": 0.5}, default_rate=1.0
    ).select("doc_id", "lang", "source", "n_chars")


@key("llm_mix_weights", oracle="""
            WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
            t AS (SELECT sum(n_docs) AS total FROM c)
            SELECT lang, n_docs,
                   ((n_docs * 1000000 * 2 + total)
                    // (2 * total))::BIGINT AS actual_share_e6,
                   ((1 * 1000000 * 2 + 5) // (2 * 5))::BIGINT
                       AS target_share_e6,
                   ((1 * total * 1000000 * 2 + 5 * n_docs)
                    // (2 * 5 * n_docs))::BIGINT AS weight_e6
            FROM c, t
        """)
def q_mix_weights(spark, sf_dir):
    # Domain-mixing weights toward a uniform 20% share per language.
    docs = _t(spark, sf_dir, "documents")
    shares = {lang: 0.2 for lang in ["en", "es", "fr", "de", "zh"]}
    return CU.mix_weights(docs, "lang", shares)


@key("llm_mix_token_plan", oracle="""
            WITH t AS (
                SELECT lang,
                       len(string_split_regex(lower(trim(text)), '\\s+'))
                           AS n_tok
                FROM documents
            ),
            counts AS (
                SELECT lang, count(*) AS n_docs, sum(n_tok) AS avail_tokens
                FROM t GROUP BY lang
            ),
            planned AS (
                SELECT lang, n_docs, avail_tokens,
                       CASE WHEN lang IN ('en','es','fr','de','zh')
                            THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END AS tgt
                FROM counts
            )
            SELECT lang, n_docs, avail_tokens::BIGINT AS avail_tokens,
                   round(tgt, 6) AS target_share,
                   round(tgt * 20000.0, 2) AS desired_tokens,
                   round(CASE WHEN avail_tokens > 0
                              THEN least(1.0::DOUBLE,
                                         (tgt * 20000.0) / avail_tokens)
                              ELSE 0.0::DOUBLE END, 6) AS sample_rate,
                   round(least(tgt * 20000.0, avail_tokens::DOUBLE), 2)
                       AS planned_tokens,
                   round(greatest(0.0::DOUBLE,
                                  tgt * 20000.0 - avail_tokens), 2)
                       AS shortfall_tokens
            FROM planned
        """)
def q_mix_token_plan(spark, sf_dir):
    # Mix planning: per-language sampling rates to hit a 20k-token
    # budget at uniform 20% shares, with shortfalls surfaced where a
    # language lacks inventory.
    docs = _t(spark, sf_dir, "documents")
    shares = {lang: 0.2 for lang in ["en", "es", "fr", "de", "zh"]}
    return CU.mix_token_plan(docs, "lang", shares, token_budget=20_000)


@key("llm_token_histogram", oracle="""
            WITH w AS (
                SELECT string_split_regex(lower(trim(text)), '\\s+') AS words,
                       n_chars
                FROM documents
            )
            SELECT (len(words) // 8) * 8 AS bucket_lo,
                   count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars
            FROM w
            GROUP BY 1
        """)
def q_token_histogram(spark, sf_dir):
    # Token-length histogram (bucket width 8) with mean char length.
    return CU.token_histogram(_t(spark, sf_dir, "documents"))


@key("llm_repetition_stats", oracle="""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            t AS (SELECT doc_id, unnest(words) AS token FROM w),
            per AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY 1, 2)
            SELECT doc_id,
                   sum(c)::BIGINT AS n_tokens,
                   count(*) AS n_distinct,
                   round(count(*) / sum(c), 4) AS distinct_ratio,
                   round(max(c) / sum(c), 4) AS top_token_ratio
            FROM per
            GROUP BY doc_id
        """)
def q_repetition_stats(spark, sf_dir):
    # Gopher-style repetition signals: distinct-token ratio + top-token
    # mass per document.
    return CU.repetition_stats(_t(spark, sf_dir, "documents"))


@key("llm_pack_sequences", oracle="""
            WITH w AS (
                SELECT doc_id, source,
                       len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, source, n_tokens,
                       sum(n_tokens) OVER (
                           PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) - n_tokens AS s
                FROM w
            )
            SELECT doc_id, source, n_tokens,
                   (s // 256)::BIGINT AS seq_id,
                   (s % 256)::BIGINT AS offset_in_seq
            FROM c
        """)
def q_pack_sequences(spark, sf_dir):
    # Fixed-token-budget sequence packing, sharded by source so each
    # running sum sorts one shard independently (no global orderBy).
    return CU.pack_sequences(_t(spark, sf_dir, "documents"), budget=256)


@key("llm_chunking", oracle="""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            s AS (
                SELECT doc_id, words,
                       unnest(range(1, greatest(len(words) - 8, 1) + 1, 24)) AS st
                FROM w
            )
            SELECT doc_id,
                   (st - 1) // 24 AS chunk_idx,
                   array_to_string(words[st:st+31], ' ') AS chunk_text,
                   len(words[st:st+31]) AS n_chunk_tokens
            FROM s
        """)
def q_chunking(spark, sf_dir):
    # Overlapping 32-token chunks, 8-token overlap — the retrieval /
    # embedding indexing shape. Pure per-row explode, no shuffle.
    return CU.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )


@key("llm_pii_redact", oracle="""
            WITH d AS (
                SELECT c_custkey AS doc_id,
                       'contact ' || regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g')
                       || '@example.com or call 555-'
                       || lpad((c_custkey % 1000)::VARCHAR, 3, '0')
                       || '-' || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
                       || ' from 10.0.' || (c_custkey % 256)::VARCHAR
                       || '.' || (c_custkey % 100)::VARCHAR
                       || ' about ' || c_mktsegment AS t
                FROM customer
            ),
            s1 AS (
                SELECT doc_id,
                       len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS n_email,
                       regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS t
                FROM d
            ),
            s2 AS (
                SELECT doc_id, n_email,
                       len(regexp_extract_all(t, '\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS n_phone,
                       regexp_replace(t, '\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g') AS t
                FROM s1
            ),
            s3 AS (
                SELECT doc_id, n_email, n_phone,
                       len(regexp_extract_all(t, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ipv4,
                       regexp_replace(t, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IPV4>', 'g') AS t
                FROM s2
            )
            SELECT doc_id, n_email, n_phone, n_ipv4, t AS redacted FROM s3
        """)
def q_pii_redact(spark, sf_dir):
    # PII scrubbing gate. The synthetic corpus carries no PII, so the
    # query MANUFACTURES deterministic PII-bearing text from customer
    # rows (email from the name, phone/IP from the key) and redacts it —
    # non-vacuous counts, byte-identical engine parity on the redaction.
    customer = _t(spark, sf_dir, "customer")
    docs = customer.select(
        F.col("c_custkey").alias("doc_id"),
        F.concat(
            F.lit("contact "),
            F.regexp_replace(F.lower("c_name"), r"[^a-z0-9]", ""),
            F.lit("@example.com or call 555-"),
            F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("c_custkey") % 256).cast("string"),
            F.lit("."),
            (F.col("c_custkey") % 100).cast("string"),
            F.lit(" about "),
            F.col("c_mktsegment"),
        ).alias("text"),
    )
    return CU.redact_pii(docs)


def _gzip_stored_hex(text_col):
    """Hex of a VALID gzip member wrapping ``text_col``'s UTF-8 bytes
    in one stored-DEFLATE block (RFC 1952 header, BTYPE=00, LEN/NLEN,
    raw bytes, no trailer — curation.decompress_text's member walk
    tolerates a member truncated exactly at the trailer and verifies
    CRC only when present, so the craft needs no SQL crc32). The
    decode side runs the REAL header walk + raw inflate. Bounded to
    the 65,535-byte stored-block limit by the caller's corpus (sf
    document texts are far smaller). Staged for the round-11
    decompress keys."""
    raw = F.encode(text_col, "utf-8")
    n = F.octet_length(raw)
    return F.concat(
        F.lit("1F8B0800000000000003"),  # magic, deflate, no flags
        F.lit("01"),                    # stored block, BFINAL
        _hex_le(n, 4), _hex_le(65535 - n, 4),
        F.hex(raw),
    )


def _gzip_member_full_hex(raw):
    """Hex of a COMPLETE gzip member (stored-DEFLATE body + the full
    8-byte CRC32/ISIZE trailer, crc computed JVM-side with F.crc32)
    over a binary column — the multi-member building block: a member
    FOLLOWED by another must carry its verified trailer, since
    curation.decompress_text's walk rejects any non-member bytes after
    a trailer and only tolerates truncation on the tail member."""
    n = F.octet_length(raw)
    return F.concat(
        F.lit("1F8B0800000000000003"),
        F.lit("01"),
        _hex_le(n, 4), _hex_le(65535 - n, 4),
        F.hex(raw),
        _hex_le(F.crc32(raw), 8), _hex_le(n, 8),
    )


@key("llm_quality_filter", oracle="""
            WITH w AS (
                SELECT doc_id, text,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       len(words) AS n_tokens,
                       CASE WHEN len(words) > 0 THEN len(words) ELSE 1 END AS safe_n,
                       length(text) AS n_chars,
                       len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
                           AS alpha_words,
                       len(list_filter(words, x -> x IN
                           ('the','a','an','and','of','to','in','is','it','for')))
                           AS stop_hits
                FROM w
            )
            SELECT doc_id, n_tokens,
                   round((n_chars - (n_tokens - 1)) / safe_n, 4) AS mean_word_len,
                   round(alpha_words / safe_n, 4) AS alpha_word_ratio,
                   stop_hits,
                   COALESCE(n_tokens BETWEEN 10 AND 100000,
                            FALSE) AS ok_tokens,
                   COALESCE(((n_chars - (n_tokens - 1)) / safe_n)
                                BETWEEN 2.0 AND 12.0,
                            FALSE) AS ok_word_len,
                   COALESCE((alpha_words / safe_n) >= 0.7,
                            FALSE) AS ok_alpha_words,
                   COALESCE(stop_hits >= 2, FALSE) AS ok_stopwords,
                   COALESCE((n_tokens BETWEEN 10 AND 100000)
                       AND (((n_chars - (n_tokens - 1)) / safe_n)
                            BETWEEN 2.0 AND 12.0)
                       AND ((alpha_words / safe_n) >= 0.7)
                       AND (stop_hits >= 2), FALSE) AS passes
            FROM s
        """)
def q_quality_filter(spark, sf_dir):
    # Gopher-style rule-based quality gate: per-rule booleans + the
    # conjunction, one map-only projection over the corpus.
    return CU.quality_filter(_t(spark, sf_dir, "documents"))


@key("llm_per_group_sample", oracle="""
            SELECT doc_id, source, lang FROM (
                SELECT doc_id, source, lang,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY md5(doc_id::VARCHAR), doc_id
                       ) AS rn
                FROM documents
            ) WHERE rn <= 5
        """)
def q_per_group_sample(spark, sf_dir):
    # Deterministic per-domain reservoir: exactly min(5, |domain|) docs
    # per source, md5-ordered (curation.py:per_group_sample) — the
    # replayable "k eval examples per domain" draw.
    docs = _t(spark, sf_dir, "documents")
    return CU.per_group_sample(docs, "source", k=5).select(
        "doc_id", "source", "lang"
    )


@key("llm_quantile_normalize", oracle="""
            WITH grid AS (
                SELECT source AS g, n_chars::DOUBLE AS v, count(*) AS t
                FROM documents GROUP BY 1, 2
            ),
            ranks AS (
                SELECT g, v,
                       (coalesce(sum(t) OVER (PARTITION BY g ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0)
                        + (t + 1) / 2.0)
                       / sum(t) OVER (PARTITION BY g) AS pct
                FROM grid
            )
            SELECT d.doc_id, d.source, d.n_chars,
                   round(r.pct, 6) AS pct_rank
            FROM documents d JOIN ranks r
              ON d.source = r.g AND d.n_chars::DOUBLE = r.v
            ORDER BY d.doc_id
        """)
def q_quantile_normalize(spark, sf_dir):
    # Cross-source score calibration: each document's length score
    # mapped to its within-source midrank percentile, making scores
    # comparable across sources before mixing
    # (curation.py:quantile_normalize).
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return CU.quantile_normalize(docs, "source", "n_chars").orderBy(
        "doc_id"
    )


@key("llm_span_corruption", oracle="""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS ws
                FROM documents
            ),
            toks AS (
                SELECT doc_id, unnest(range(len(ws)))::BIGINT AS pos FROM w
            ),
            h AS (
                SELECT doc_id, pos,
                       ('0x' || substr(md5(doc_id::VARCHAR || ':'
                            || pos::VARCHAR), 1, 8))::BIGINT AS hv
                FROM toks
            ),
            starts AS (
                SELECT doc_id, pos AS sp, 2 + hv % 3 AS ln
                FROM h WHERE hv % 20 = 0
            ),
            covered AS (
                SELECT DISTINCT t.doc_id, t.pos
                FROM toks t JOIN starts s
                  ON t.doc_id = s.doc_id
                 AND t.pos >= s.sp AND t.pos < s.sp + s.ln
            ),
            runs AS (
                SELECT doc_id,
                       (coalesce(lag(pos) OVER (PARTITION BY doc_id
                            ORDER BY pos), -2) != pos - 1)::INT AS nr
                FROM covered
            ),
            m AS (
                SELECT doc_id, count(*) AS n_masked,
                       sum(nr)::BIGINT AS n_spans
                FROM runs GROUP BY doc_id
            ),
            tot AS (
                SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id
            )
            SELECT tot.doc_id, n_tokens,
                   coalesce(n_masked, 0) AS n_masked,
                   coalesce(n_spans, 0) AS n_spans
            FROM tot LEFT JOIN m USING (doc_id) ORDER BY doc_id
        """)
def q_span_corruption(spark, sf_dir):
    # T5 span-corruption dry run over the corpus: hash-deterministic
    # span starts/lengths, merged-run sentinel counts - the denoising
    # mask profile a mixture designer monitors
    # (curation.py:span_corruption_plan).
    return CU.span_corruption_plan(_t(spark, sf_dir, "documents"))


@key("llm_fair_allocation", oracle="""
            WITH caps AS (
                SELECT source, sum(n_chars)::DOUBLE AS cap
                FROM documents GROUP BY 1
            ),
            r AS (
                SELECT source, cap,
                       row_number() OVER (ORDER BY cap, source) AS i,
                       coalesce(sum(cap) OVER (
                           ORDER BY cap, source
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cumb,
                       count(*) OVER () AS n
                FROM caps
            ),
            lv AS (
                SELECT *, (200000.0 - cumb) / (n - i + 1) AS li FROM r
            ),
            t AS (
                SELECT coalesce(
                    (SELECT li FROM lv WHERE li <= cap
                     ORDER BY i LIMIT 1), 1e308) AS t
            )
            SELECT source, round(cap, 6) AS cap,
                   round(least(cap, greatest(t.t, 0.0::DOUBLE)), 6)
                       AS allocation
            FROM lv CROSS JOIN t
        """)
def q_fair_allocation(spark, sf_dir):
    # Max-min fair token-budget allocation across sources (caps =
    # available chars): sorted water-filling closed form, one window
    # over the per-source table (curation.py:fair_allocation).
    caps = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("cap"))
    )
    return CU.fair_allocation(caps, "source", "cap", budget=200000.0)


@key("llm_dataset_card", oracle="""
            WITH w AS (
                SELECT doc_id, text, lang, n_chars,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            per AS (
                SELECT md5(text) AS h, len(words) AS nw,
                       round(
                         least(len(words) / 64.0, 1.0) * 0.4
                         + least((len(list_filter(words, x -> x IN
                                  ('the','a','an','and','of','to','in','is','it','for')))
                                  / len(words)) * 5.0, 1.0) * 0.2
                         + (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                            / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END)) * 0.4,
                       4) AS q
                FROM w
            ),
            agg AS (
                SELECT count(*) AS n_docs,
                       count(DISTINCT h) AS n_unique_texts,
                       sum(nw) AS total_tokens,
                       sum(cast(round(q * 10000) as bigint)) AS sq4,
                       count(*) AS nq
                FROM per
            ),
            l AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
            lt AS (SELECT sum(c)::DOUBLE AS t FROM l),
            e AS (
                SELECT round(-sum((c / lt.t) * log2(c / lt.t)), 6)
                           AS lang_entropy
                FROM l CROSS JOIN lt
            ),
            m AS (
                SELECT round(quantile_cont(n_chars, 0.5), 6) AS p50_len
                FROM documents
            )
            SELECT n_docs, n_unique_texts,
                   (1000000 - (n_unique_texts * 1000000 * 2 + n_docs)
                    // (2 * n_docs))::BIGINT AS dup_rate_e6,
                   total_tokens::BIGINT AS total_tokens,
                   ((total_tokens * 1000000 * 2 + n_docs)
                    // (2 * n_docs))::BIGINT AS avg_tokens_e6,
                   ((sq4 * 100 * 2 + nq) // (2 * nq))::BIGINT
                       AS mean_quality_e6,
                   lang_entropy, p50_len
            FROM agg CROSS JOIN e CROSS JOIN m
        """)
def q_dataset_card(spark, sf_dir):
    # One-row corpus composition card: size, dup rate, token volume,
    # mean quality, language-mix entropy, exact median length — four
    # column-pruned scans, all 1-row/edge-bounded aggregates
    # (curation.py:dataset_card).
    return CU.dataset_card(_t(spark, sf_dir, "documents"))


@key("llm_exact_stratified_split", oracle="""
            WITH q AS (
                SELECT source,
                       (floor(count(*) * 0.25))::BIGINT AS quota
                FROM documents GROUP BY 1
            ),
            ranked AS (
                SELECT doc_id, d.source, lang, n_chars,
                       row_number() OVER (
                           PARTITION BY d.source
                           ORDER BY md5(doc_id::VARCHAR), doc_id
                       ) AS rn
                FROM documents d
            )
            SELECT doc_id, r.source, lang, n_chars
            FROM ranked r JOIN q ON r.source = q.source
            WHERE rn <= quota
        """)
def q_exact_stratified_split(spark, sf_dir):
    # Exact-quota stratified selection: exactly floor(0.25 * n_source)
    # docs per source, chosen by md5 rank — partitioning-independent
    # (curation.py:exact_stratified_split).
    out = CU.exact_stratified_split(
        _t(spark, sf_dir, "documents"), "source", 0.25
    )
    return out.select("doc_id", "source", "lang", "n_chars")


@key("llm_winsorize", oracle="""
            WITH q AS (
                SELECT source,
                       round(quantile_cont(n_chars, 0.05), 6) AS qlo,
                       round(quantile_cont(n_chars, 0.95), 6) AS qhi
                FROM documents GROUP BY 1
            )
            SELECT doc_id, d.source, n_chars,
                   round(least(greatest(n_chars::DOUBLE, qlo), qhi), 6)
                       AS winsorized
            FROM documents d JOIN q USING (source)
        """)
def q_winsorize(spark, sf_dir):
    # Per-source winsorization of document lengths at [p05, p95]:
    # exact distributed thresholds broadcast back, map-side clamp
    # (relational.py:winsorize).
    return R.winsorize(
        _t(spark, sf_dir, "documents"), "source", "n_chars", "doc_id"
    )


@key("llm_quality_drift", oracle=lambda: """
            WITH a AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 0),
            b AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 1),
            th AS (
                SELECT """
        + ", ".join(
            f"round(quantile_cont(n_chars, {i / 10}), 6) AS p{i * 10}"
            for i in range(1, 10)
        )
        + """
                FROM a
            ),
            ba AS (
                SELECT ("""
        + " + ".join(
            f"CASE WHEN n_chars > p{i * 10} THEN 1 ELSE 0 END"
            for i in range(1, 10)
        )
        + """) AS bin FROM a, th
            ),
            bb AS (
                SELECT ("""
        + " + ".join(
            f"CASE WHEN n_chars > p{i * 10} THEN 1 ELSE 0 END"
            for i in range(1, 10)
        )
        + """) AS bin FROM b, th
            ),
            ca AS (SELECT bin, count(*) AS n_a FROM ba GROUP BY bin),
            cb AS (SELECT bin, count(*) AS n_b FROM bb GROUP BY bin),
            bins AS (SELECT range::INT AS bin FROM range(10)),
            j AS (
                SELECT bins.bin,
                       coalesce(n_a, 0) AS n_a,
                       coalesce(n_b, 0) AS n_b
                FROM bins LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)
            ),
            tot AS (
                SELECT sum(n_a) + 10.0 AS ta, sum(n_b) + 10.0 AS tb FROM j
            )
            SELECT bin, n_a, n_b,
                   (((n_a + 1) * 1000000 * 2 + ta::BIGINT)
                    // (2 * ta::BIGINT))::BIGINT AS share_a_e6,
                   (((n_b + 1) * 1000000 * 2 + tb::BIGINT)
                    // (2 * tb::BIGINT))::BIGINT AS share_b_e6,
                   round(((n_b + 1.0) / tb - (n_a + 1.0) / ta)
                         * ln(((n_b + 1.0) / tb) / ((n_a + 1.0) / ta)), 6) AS psi_term
            FROM j, tot ORDER BY bin
        """)
def q_quality_drift(spark, sf_dir):
    # Distribution-drift monitor: PSI between two corpus snapshots
    # (even/odd doc ids as deterministic stand-ins) on a fixed decile
    # grid derived from the baseline via exact quantile selection
    # (curation.py:quality_drift_psi).
    docs = _t(spark, sf_dir, "documents")
    return CU.quality_drift_psi(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
        n_bins=10,
    )


@key("llm_curriculum_bins", oracle=lambda: """
            WITH th AS (
                SELECT """
        + ", ".join(
            f"round(quantile_cont(n_chars, {i / 10}), 6) AS p{i * 10}"
            for i in range(1, 10)
        )
        + """
                FROM documents
            )
            SELECT doc_id, n_chars,
                   ("""
        + " + ".join(
            f"CASE WHEN n_chars > p{i * 10} THEN 1 ELSE 0 END"
            for i in range(1, 10)
        )
        + """) AS bin
            FROM documents, th
            ORDER BY doc_id
        """)
def q_curriculum_bins(spark, sf_dir):
    # Curriculum/difficulty deciles of document length: EXACT quantile
    # thresholds via distributed histogram selection (broadcast back as
    # one row), then a map-side thresholds-exceeded count — the
    # scalable ntile substitute (curation.py:curriculum_bins).
    return CU.curriculum_bins(
        _t(spark, sf_dir, "documents"), "n_chars", n_bins=10
    )


@key("llm_decompress_corpus", oracle="""
            -- member-size arithmetic: single tail member = 10 header
            -- + 5 stored-block header + n (no trailer); the every-4th
            -- two-member shape = 2 x (10 + 5 + 8 trailer) + n = n+46
            SELECT doc_id, text,
                   (strlen(text) + CASE WHEN doc_id % 4 = 0
                                        THEN 46 ELSE 15 END)::BIGINT
                       AS n_raw_bytes,
                   strlen(text)::BIGINT AS n_text_bytes
            FROM documents
            WHERE doc_id >= 0 AND text IS NOT NULL
              AND strlen(text) <= 60000
        """)
def q_llm_decompress_corpus(spark, sf_dir):
    # REAL gzip member walk + raw inflate over the corpus texts
    # wrapped JVM-side in stored-DEFLATE members (encode side is pure
    # JVM hex, decode side is curation.decompress_text's bounded
    # inflate). Every 4th doc is a CONCATENATED TWO-MEMBER file (the
    # WARC shape): the text char-split in half, each half a complete
    # member with a real CRC32/ISIZE trailer (F.crc32 JVM-side), so
    # the driver witnesses the multi-member walk + strict trailer
    # verification, not just the single-member path
    # (_gzip_stored_hex's tolerated-truncation tail). Oracle: the raw
    # text plus the per-shape member-size arithmetic.
    from streaming_demos_spark.operators import curation as CU

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= 0)
        .filter(F.col("text").isNotNull())
        .filter(F.octet_length(F.col("text")) <= 60000)
    )
    left = F.expr("substring(text, 1, length(text) div 2)")
    right = F.expr("substring(text, 1 + (length(text) div 2))")
    two = F.concat(
        _gzip_member_full_hex(F.encode(left, "utf-8")),
        _gzip_member_full_hex(F.encode(right, "utf-8")),
    )
    payload_hex = F.when(F.col("doc_id") % 4 == 0, two).otherwise(
        _gzip_stored_hex(F.col("text")))
    crafted = docs.select(
        "doc_id", F.unhex(payload_hex).alias("gz"))
    return CU.decompress_text(crafted, payload_col="gz")
