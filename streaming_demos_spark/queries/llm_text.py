"""``llm_*`` keys that compose operators/text.py and functions/tfidf.py:
tokenization statistics, language id, n-gram models, keyword
extraction and TF-IDF/BM25 retrieval.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import dedup as D
from streaming_demos_spark.operators import relational as R
from streaming_demos_spark.operators import text as TX
from streaming_demos_spark.queries import generated, key, values_sql


@key("llm_text_stats", oracle="""
            WITH w AS (
                SELECT doc_id, text,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            )
            SELECT doc_id,
                   len(words) AS n_tokens,
                   len(regexp_extract_all(lower(text),
                       '([a-z]+|[0-9]+|[^a-z0-9\\s])', 1)) AS n_tokens_bpe,
                   length(text) AS n_chars_computed,
                   round((length(text) - (len(words) - 1)) / len(words), 4) AS mean_word_len,
                   round(len(list_filter(words, x -> x IN
                         ('the','a','an','and','of','to','in','is','it','for')))
                         / len(words), 4) AS stopword_ratio,
                   round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                         / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END), 4)
                       AS alpha_ratio,
                   round(
                     least(len(words) / 64.0, 1.0) * 0.4
                     + least((len(list_filter(words, x -> x IN
                              ('the','a','an','and','of','to','in','is','it','for')))
                              / len(words)) * 5.0, 1.0) * 0.2
                     + (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                        / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END)) * 0.4,
                   4) AS quality_score
            FROM w
        """)
def q_text_stats(spark, sf_dir):
    # Token counts, word lengths, stopword/alpha ratios, quality score.
    return TX.text_stats(_t(spark, sf_dir, "documents"))


_SQL_LANG_ID = """
            WITH w AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       len(list_filter(words, x -> x IN ('the','a','and','of','is')))  AS score_en,
                       len(list_filter(words, x -> x IN ('el','la','de','que','y')))   AS score_es,
                       len(list_filter(words, x -> x IN ('le','la','et','les','des'))) AS score_fr,
                       len(list_filter(words, x -> x IN ('der','die','und','das','ist'))) AS score_de,
                       len(list_filter(words, x -> x IN ('de5','shi4','le5','zai4','he2'))) AS score_zh
                FROM w
            )
            SELECT doc_id, score_en, score_es, score_fr, score_de, score_zh,
                   CASE WHEN greatest(score_en, score_es, score_fr, score_de, score_zh) = 0
                        THEN 'und'
                        WHEN score_en = greatest(score_en, score_es, score_fr, score_de, score_zh) THEN 'en'
                        WHEN score_es = greatest(score_en, score_es, score_fr, score_de, score_zh) THEN 'es'
                        WHEN score_fr = greatest(score_en, score_es, score_fr, score_de, score_zh) THEN 'fr'
                        WHEN score_de = greatest(score_en, score_es, score_fr, score_de, score_zh) THEN 'de'
                        ELSE 'zh' END AS pred_lang
            FROM s
        """


@key("llm_lang_id", oracle=lambda: _SQL_LANG_ID)
def q_lang_id(spark, sf_dir):
    # Marker-word language ID with deterministic tie-breaking.
    return TX.lang_id(_t(spark, sf_dir, "documents"))


@key("llm_vocab_stats", oracle="""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            toks AS (SELECT doc_id, unnest(words) AS term FROM w),
            per_doc AS (
                SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
            ),
            terms AS (
                SELECT term, count(*) AS df, sum(tf)::BIGINT AS cf
                FROM per_doc GROUP BY 1 HAVING count(*) >= 2
            ),
            n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents)
            SELECT term, df, cf, round(df / nd::DOUBLE, 6) AS df_frac
            FROM terms, n
        """)
def q_vocab_stats(spark, sf_dir):
    # Corpus vocabulary table (df / cf / df-fraction, min_df=2) — the
    # statistics behind min_df/max_df pruning and stopword discovery.
    return TX.vocab_stats(_t(spark, sf_dir, "documents"), min_df=2)


@key("llm_ngram_entropy", oracle="""
            WITH t AS (
                SELECT doc_id,
                       trim(regexp_replace(
                           regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                           '\\s+', ' ', 'g')) AS txt
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(length(txt) - 1, 1)),
                           i -> substr(txt, i, 2))) AS gram
                FROM t
            ),
            c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
            e AS (
                SELECT doc_id, sum(cnt) AS tot,
                       sum(cnt * log2(cnt::DOUBLE)) AS s
                FROM c GROUP BY 1
            )
            SELECT doc_id, tot::BIGINT AS n_grams,
                   round(log2(tot::DOUBLE) - s / tot, 4) AS entropy
            FROM e
        """)
def q_ngram_entropy(spark, sf_dir):
    # Character-bigram Shannon entropy over normalized text — the
    # repetition/garbage quality gate (low entropy = templated/looping
    # text). Stable form H = log2(T) - Σ c·log2(c)/T in both engines.
    return TX.char_ngram_entropy(_t(spark, sf_dir, "documents"), n=2)


@key("llm_fingerprint", oracle="""
            SELECT doc_id,
                   md5(trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                       '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """)
def q_fingerprint(spark, sf_dir):
    # md5-of-normalized-text content fingerprint.
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint("text").alias("fp"))


@key("llm_winnow_fingerprints", oracle="""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(words) >= 3
                            THEN list_transform(range(1, len(words)-1),
                                                i -> array_to_string(words[i:i+2], ' '))
                            ELSE [array_to_string(words, ' ')] END AS shingles
                FROM w
            ),
            hs AS (
                SELECT doc_id, list_transform(shingles, s -> md5(s)) AS h
                FROM sh
            ),
            f AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(h) - 3, 1) + 1),
                           i -> list_min(h[i:i+3]))) AS fps
                FROM hs
            )
            SELECT doc_id, unnest(fps) AS fp FROM f
        """)
def q_winnow_fingerprints(spark, sf_dir):
    # Winnowing (MOSS) rolling-hash fingerprints: windowed min over the
    # 3-gram hash sequence, distinct per doc. Map-only, no shuffle.
    return TX.winnow_fingerprints(_t(spark, sf_dir, "documents"))


@key("llm_curation_pipeline", oracle="""
            WITH keep AS (
                SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
            ),
            canon AS (
                SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)
            ),
            w AS (
                SELECT doc_id, text,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM canon
            ),
            scored AS (
                SELECT doc_id,
                       len(words) AS n_tokens,
                       round(
                         least(len(words) / 64.0, 1.0) * 0.4
                         + least((len(list_filter(words, x -> x IN
                                  ('the','a','an','and','of','to','in','is','it','for')))
                                  / len(words)) * 5.0, 1.0) * 0.2
                         + (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                            / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END)) * 0.4,
                       4) AS quality_score,
                       len(list_filter(words, x -> x IN ('the','a','and','of','is')))  AS s_en,
                       len(list_filter(words, x -> x IN ('el','la','de','que','y')))   AS s_es,
                       len(list_filter(words, x -> x IN ('le','la','et','les','des'))) AS s_fr,
                       len(list_filter(words, x -> x IN ('der','die','und','das','ist'))) AS s_de,
                       len(list_filter(words, x -> x IN ('de5','shi4','le5','zai4','he2'))) AS s_zh
                FROM w
            ),
            tagged AS (
                SELECT doc_id, n_tokens, quality_score,
                       CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
                            WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'en'
                            WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'es'
                            WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'fr'
                            WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'de'
                            ELSE 'zh' END AS pred_lang
                FROM scored
            )
            SELECT doc_id, n_tokens, quality_score, pred_lang
            FROM tagged
            WHERE quality_score >= 0.5 AND pred_lang = 'en'
        """)
def q_curation_pipeline(spark, sf_dir):
    # Composite corpus curation — the end-to-end shape a training-data
    # pipeline actually runs: exact-dedup to canonical docs, language
    # gate, quality-score threshold, one output row per surviving doc.
    # All stages are per-row column expressions except the dedup
    # semi-join; the plan stays one scan + one hash-shuffle.
    docs = _t(spark, sf_dir, "documents")
    canonical = D.exact_dedup(docs)
    stats = TX.text_stats(canonical)
    langs = TX.lang_id(canonical).select("doc_id", "pred_lang")
    return (
        stats.join(langs, "doc_id")
        .filter((F.col("quality_score") >= 0.5) & (F.col("pred_lang") == "en"))
        .select("doc_id", "n_tokens", "quality_score", "pred_lang")
    )


@key("llm_textrank_keywords", oracle="""
            WITH kept AS (
                SELECT list_filter(
                           string_split_regex(lower(trim(text)), '\\s+'),
                           t -> NOT t IN ('the','a','an','and','of','to',
                                          'in','is','it','for')
                                AND length(t) >= 3) AS w
                FROM documents
            ),
            pairs AS (
                SELECT unnest(list_transform(
                           range(1, len(w)),
                           i -> {'src': w[i], 'dst': w[i + 1]})) AS p
                FROM kept
            ),
            dir_edges AS (SELECT p.src AS src, p.dst AS dst FROM pairs),
            e0 AS (
                SELECT src, dst, count(*)::DOUBLE AS w FROM (
                    SELECT src, dst FROM dir_edges
                    UNION ALL
                    SELECT dst, src FROM dir_edges
                ) GROUP BY 1, 2
            ),
            nodes AS (
                SELECT DISTINCT src AS node FROM e0
                UNION SELECT DISTINCT dst FROM e0
            ),
            nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
            outw AS (SELECT src, sum(w) AS ow FROM e0 GROUP BY 1),
            sh AS (
                SELECT src, dst, w / ow AS share
                FROM e0 JOIN outw USING (src)
            ),
            r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
            c1 AS (
                SELECT sh.dst AS node, sum(r0.rank * sh.share) AS inr
                FROM sh JOIN r0 ON sh.src = r0.node GROUP BY 1
            ),
            r1 AS (
                SELECT nodes.node,
                       0.15 / nn.n + 0.85 * coalesce(c1.inr, 0) AS rank
                FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node
            ),
            c2 AS (
                SELECT sh.dst AS node, sum(r1.rank * sh.share) AS inr
                FROM sh JOIN r1 ON sh.src = r1.node GROUP BY 1
            ),
            r2 AS (
                SELECT nodes.node,
                       0.15 / nn.n + 0.85 * coalesce(c2.inr, 0) AS rank
                FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node
            ),
            c3 AS (
                SELECT sh.dst AS node, sum(r2.rank * sh.share) AS inr
                FROM sh JOIN r2 ON sh.src = r2.node GROUP BY 1
            ),
            r3 AS (
                SELECT nodes.node,
                       0.15 / nn.n + 0.85 * coalesce(c3.inr, 0) AS rank
                FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.node = nodes.node
            )
            SELECT node AS term, round(rank, 8) AS rank
            FROM r3
            ORDER BY rank DESC, term
            LIMIT 20
        """)
def q_textrank_keywords(spark, sf_dir):
    # Corpus-level TextRank: PageRank over the adjacency co-occurrence
    # graph of the stopword-filtered token stream; reuses graph.pagerank
    # with a fixed round count so the oracle unrolls identically
    # (text.py:textrank_keywords).
    return TX.textrank_keywords(
        _t(spark, sf_dir, "documents"), iterations=3, k=20
    )


@key("llm_normalize_text", oracle="""
            WITH n AS (
                SELECT doc_id, text,
                       trim(regexp_replace(regexp_replace(text,
                           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\x{200b}\\x{200c}\\x{200d}\\x{feff}]',
                           '', 'g'), '\\s+', ' ', 'g')) AS norm
                FROM documents
            )
            SELECT doc_id,
                   length(text) AS n_chars_raw,
                   length(norm) AS n_chars_norm,
                   COALESCE(text <> norm, FALSE) AS changed,
                   md5(norm) AS norm_fingerprint
            FROM n
        """)
def q_normalize_text(spark, sf_dir):
    # Map-only canonical cleanup (control/zero-width strip, whitespace
    # collapse) + per-source dirtiness rollup (text.py:normalize_documents).
    norm = TX.normalize_documents(_t(spark, sf_dir, "documents"))
    return norm.select(
        "doc_id", "n_chars_raw", "n_chars_norm", "changed",
        F.md5("norm_text").alias("norm_fingerprint"),
    )


@key("llm_tfidf_cosine_topk", oracle="""
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
            sparse AS (
                SELECT doc_id, term,
                       round(tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 9)
                           AS w
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            ),
            norms AS (
                SELECT doc_id, sqrt(sum(w * w)) AS nrm
                FROM sparse GROUP BY doc_id
            ),
            q AS (
                SELECT doc_id AS query_id, term, w AS qw
                FROM sparse WHERE doc_id IN (0, 1, 2, 3)
            ),
            dots AS (
                SELECT q.query_id, s.doc_id, sum(s.w * q.qw) AS dot
                FROM sparse s JOIN q USING (term)
                WHERE s.doc_id <> q.query_id
                GROUP BY 1, 2
            ),
            scored AS (
                SELECT d.query_id, d.doc_id,
                       round(d.dot / (n1.nrm * n2.nrm), 6) AS cosine
                FROM dots d
                JOIN norms n1 ON d.doc_id = n1.doc_id
                JOIN norms n2 ON d.query_id = n2.doc_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, doc_id
                ) AS rn
                FROM scored
            )
            SELECT query_id, doc_id, cosine FROM ranked WHERE rn <= 3
        """)
def q_tfidf_cosine_topk(spark, sf_dir):
    # Sparse text similarity search: top-3 most similar docs for four
    # query docs via the inverted-index postings join (broadcast query
    # slice; map-side-combinable partial dot products).
    from streaming_demos_spark.functions import tfidf as TI

    return TI.tfidf_cosine_topk(
        _t(spark, sf_dir, "documents"), query_ids=[0, 1, 2, 3], k=3
    )


@key("llm_bm25_topk", oracle="""
            WITH base AS (
                SELECT doc_id,
                       len(list_filter(string_split_regex(lower(text),
                           '[^a-z0-9]+'), t -> t != '')) AS dl,
                       len(list_filter(string_split_regex(lower(text),
                           '[^a-z0-9]+'), t -> t = 'spark')) AS tf0,
                       len(list_filter(string_split_regex(lower(text),
                           '[^a-z0-9]+'), t -> t = 'join')) AS tf1,
                       len(list_filter(string_split_regex(lower(text),
                           '[^a-z0-9]+'), t -> t = 'window')) AS tf2,
                       len(list_filter(string_split_regex(lower(text),
                           '[^a-z0-9]+'), t -> t = 'merge')) AS tf3
                FROM documents
            ),
            stats AS (
                SELECT count(*) AS n, avg(dl) AS avgdl,
                       sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                       sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                       sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
                       sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
                FROM base
            ),
            scored AS (
                SELECT doc_id, round(
                    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
                        / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
                        / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
                        / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                  + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5)) * tf3 * 2.2
                        / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
                FROM base CROSS JOIN stats
            )
            SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
            ORDER BY bm25 DESC, doc_id LIMIT 10
        """)
def q_bm25_topk(spark, sf_dir):
    # BM25 keyword retrieval (Robertson/Lucene idf) for a literal query
    # bag. Zero term-shuffles: per-term tf is a map-side array count,
    # corpus stats are one broadcast 1-row aggregate, top-k is
    # TakeOrderedAndProject (see functions/tfidf.py:bm25_topk).
    from streaming_demos_spark.functions import tfidf as TI

    return TI.bm25_topk(
        _t(spark, sf_dir, "documents"),
        query_terms=["spark", "join", "window", "merge"],
        k=10,
    )


@key("llm_bigram_lm_score", oracle="""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    big AS (
        SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram
        FROM toks, unnest(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2
    ),
    cab AS (SELECT bigram, count(*) AS c_ab FROM big GROUP BY 1),
    ca AS (
        SELECT string_split(bigram, ' ')[1] AS a, sum(c_ab) AS c_a
        FROM cab GROUP BY 1
    ),
    v AS (
        SELECT count(DISTINCT t) AS vocab FROM (
            SELECT unnest(list_filter(
                string_split_regex(lower(trim(text)), '\\s+'),
                x -> x != '')) AS t
            FROM documents
        )
    ),
    lp AS (
        SELECT bigram,
               round(-ln((c_ab + 1.0::DOUBLE)
                         / (c_a + 1.0::DOUBLE * vocab)), 9) AS nll
        FROM cab
        JOIN ca ON string_split(cab.bigram, ' ')[1] = ca.a
        CROSS JOIN v
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(nll), 4) AS mean_bigram_nll
    FROM big JOIN lp USING (bigram)
    GROUP BY doc_id
""")
def q_bigram_lm_score(spark, sf_dir):
    # Per-doc mean bigram cross-entropy under a corpus-self-trained
    # add-1 bigram LM (text.py:bigram_lm_score) — the sequence-aware
    # perplexity filter that unigram surprisal can't provide.
    return TX.bigram_lm_score(_t(spark, sf_dir, "documents"))


@key("llm_bpe_pair_stats", oracle="""
    WITH words AS (
        SELECT w, count(*) AS n_w FROM (
            SELECT unnest(list_filter(
                string_split_regex(lower(trim(text)), '\\s+'),
                t -> t != '')) AS w
            FROM documents
        ) GROUP BY 1
    ),
    pairs AS (
        SELECT n_w, substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair
        FROM words, unnest(range(1, length(w))) AS t(i)
        WHERE length(w) >= 2
    )
    SELECT pair, sum(n_w)::BIGINT AS n_pairs
    FROM pairs GROUP BY 1
    ORDER BY n_pairs DESC, pair LIMIT 20
""")
def q_bpe_pair_stats(spark, sf_dir):
    # Distributed BPE-fitting inner loop: top-20 adjacent character
    # pairs by corpus frequency (text.py:bpe_pair_stats) — counted on
    # the distinct-word vocabulary weighted by word count.
    return TX.bpe_pair_stats(_t(spark, sf_dir, "documents"), top_n=20)


@key("llm_winnow_overlap", oracle="""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(words) >= 3
                            THEN list_transform(range(1, len(words)-1),
                                                i -> array_to_string(words[i:i+2], ' '))
                            ELSE [array_to_string(words, ' ')] END AS shingles
                FROM w
            ),
            hs AS (
                SELECT doc_id, list_transform(shingles, s -> md5(s)) AS h
                FROM sh
            ),
            f AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(h) - 3, 1) + 1),
                           i -> list_min(h[i:i+3]))) AS fps
                FROM hs
            ),
            fpt AS (SELECT doc_id, unnest(fps) AS fp FROM f),
            sized AS (
                SELECT *, count(*) OVER (PARTITION BY fp) AS pn FROM fpt
            ),
            ok AS (SELECT * FROM sized WHERE pn <= 50),
            shared AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_shared
                FROM ok a JOIN ok b
                  ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2
                HAVING count(*) >= 2
            ),
            counts AS (SELECT doc_id, count(*) AS n_fps FROM fpt GROUP BY doc_id)
            SELECT s.doc_a, s.doc_b, s.n_shared,
                   ((s.n_shared * 10000 * 2 + least(ca.n_fps, cb.n_fps))
                    // (2 * least(ca.n_fps, cb.n_fps)))::BIGINT
                       AS overlap_ratio_e4
            FROM shared s
            JOIN counts ca ON s.doc_a = ca.doc_id
            JOIN counts cb ON s.doc_b = cb.doc_id
            ORDER BY s.doc_a, s.doc_b
        """)
def q_winnow_overlap(spark, sf_dir):
    # MOSS overlap report: pairs sharing >= 2 winnowed fingerprints,
    # with shared counts and smaller-set overlap ratio.
    return TX.winnow_overlap_pairs(
        _t(spark, sf_dir, "documents"), min_shared=2
    ).orderBy("doc_a", "doc_b")


@key("llm_unigram_surprisal", oracle="""
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                           AS term
                FROM documents
            ),
            cf AS (SELECT term, count(*) AS cf FROM toks GROUP BY term),
            totals AS (SELECT sum(cf) AS t, count(*) AS v FROM cf),
            lp AS (
                SELECT term,
                       round(-ln((cf + 1.0) / (t + 1.0 * v)), 9) AS surprisal
                FROM cf CROSS JOIN totals
            )
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(surprisal), 4) AS mean_surprisal
            FROM toks JOIN lp USING (term)
            GROUP BY doc_id
        """)
def q_unigram_surprisal(spark, sf_dir):
    # 'Perplexity filter' analog: corpus-self-estimated unigram
    # surprisal per doc, add-1 smoothing, both quality tails trimmable.
    return TX.unigram_surprisal(_t(spark, sf_dir, "documents"))


@key("llm_pmi_collocations", oracle="""
            WITH t AS (
                SELECT string_split_regex(lower(trim(text)), '\\s+') AS tk
                FROM documents
            ),
            uni AS (SELECT unnest(tk) AS w FROM t),
            uc AS (SELECT w, count(*) AS cw FROM uni GROUP BY 1),
            nu AS (SELECT count(*)::DOUBLE AS n FROM uni),
            big AS (
                SELECT unnest(list_transform(
                    tk[1:len(tk)-1],
                    (x, i) -> struct_pack(w1 := x, w2 := tk[i+1]))) AS p
                FROM t WHERE len(tk) >= 2
            ),
            bp AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM big),
            bc AS (SELECT w1, w2, count(*) AS n_pair FROM bp GROUP BY 1, 2),
            nb AS (SELECT count(*)::DOUBLE AS n FROM bp)
            SELECT w1, w2, n_pair,
                   round(log2((n_pair / nb.n)
                              / ((a.cw / nu.n) * (b.cw / nu.n))), 4) AS pmi
            FROM bc
            JOIN uc a ON bc.w1 = a.w
            JOIN uc b ON bc.w2 = b.w
            CROSS JOIN nu CROSS JOIN nb
            WHERE n_pair >= 5
            ORDER BY pmi DESC, w1, w2
            LIMIT 100
        """)
def q_pmi_collocations(spark, sf_dir):
    # Top collocations by pointwise mutual information: map-side
    # zip_with bigrams -> two combinable count shuffles -> count joins
    # -> TakeOrderedAndProject (text.py:pmi_collocations).
    return TX.pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=5, top_n=100
    )


@key("llm_distinctive_terms", oracle="""
            WITH tok AS (
                SELECT source,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                           AS term
                FROM documents
            ),
            gt AS (
                SELECT source, term, count(*) AS c
                FROM tok GROUP BY 1, 2
            ),
            tt AS (SELECT term, sum(c) AS ct FROM gt GROUP BY 1),
            gg AS (SELECT source, sum(c) AS cg FROM gt GROUP BY 1),
            nn AS (SELECT sum(ct)::DOUBLE AS n FROM tt),
            j AS (
                SELECT gt.source, gt.term, c, ct, cg, n,
                       0.01 * ct AS aw, 0.01 * n AS a0
                FROM gt JOIN tt USING (term) JOIN gg USING (source)
                CROSS JOIN nn
                WHERE c >= 5
            ),
            z AS (
                SELECT source, term, c AS n_in_group,
                       round((ln((c + aw) / ((cg + a0) - (c + aw)))
                              - ln(((ct - c) + aw)
                                   / (((n - cg) + a0) - ((ct - c) + aw))))
                             / sqrt(1.0 / (c + aw) + 1.0 / ((ct - c) + aw)),
                             4) AS z
                FROM j
            )
            SELECT source, term, n_in_group, z FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY source ORDER BY z DESC, term
                ) AS rk
                FROM z
            ) WHERE rk <= 10
        """)
def q_distinctive_terms(spark, sf_dir):
    # Per-source distinctive vocabulary: informative-Dirichlet weighted
    # log-odds z-scores (Monroe et al. 2008), top-10 per source
    # (text.py:distinctive_terms).
    return TX.distinctive_terms(
        _t(spark, sf_dir, "documents"), "source", min_count=5, top_n=10
    )


@key("llm_oov_rate", oracle="""
            WITH toks AS (
                SELECT source AS src,
                       unnest(string_split_regex(lower(trim(text)),
                                                 '\\s+')) AS t
                FROM documents
            ),
            grid AS (
                SELECT src, t, count(*) AS occ FROM toks GROUP BY 1, 2
            ),
            spread AS (
                SELECT t, count(*) AS n_src FROM grid GROUP BY 1
            ),
            agg AS (
                SELECT src AS source,
                       sum(occ)::BIGINT AS total_tokens,
                       sum(CASE WHEN n_src = 1 THEN occ
                                ELSE 0 END)::BIGINT AS oov_tokens
                FROM grid JOIN spread USING (t)
                GROUP BY 1
            )
            SELECT source, total_tokens, oov_tokens,
                   round(oov_tokens::DOUBLE / total_tokens, 6)
                       AS oov_rate
            FROM agg ORDER BY source
        """)
def q_oov_rate(spark, sf_dir):
    # Lexical-transfer signal: the share of each source's token
    # occurrences whose TYPE appears in no other source
    # (text.py:oov_rate).
    docs = _t(spark, sf_dir, "documents")
    return TX.oov_rate(docs).orderBy("source")


@key("llm_charclass_profile", oracle="""
            WITH per AS (
                SELECT source,
                       length(lower(text)) AS chars,
                       length(lower(text))
                       - length(regexp_replace(lower(text),
                           '[a-z]', '', 'g')) AS a,
                       length(lower(text))
                       - length(regexp_replace(lower(text),
                           '[0-9]', '', 'g')) AS d,
                       length(lower(text))
                       - length(regexp_replace(lower(text),
                           '\\s', '', 'g')) AS s
                FROM documents
            ),
            agg AS (
                SELECT source, count(*) AS n_docs,
                       sum(chars)::BIGINT AS total_chars,
                       sum(a) AS sa, sum(d) AS sd, sum(s) AS ss
                FROM per GROUP BY 1
            )
            SELECT source, n_docs, total_chars,
                   round(sa / total_chars::DOUBLE, 4) AS alpha_ratio,
                   round(sd / total_chars::DOUBLE, 4) AS digit_ratio,
                   round(ss / total_chars::DOUBLE, 4) AS space_ratio,
                   round((total_chars - sa - sd - ss)
                         / total_chars::DOUBLE, 4) AS other_ratio
            FROM agg ORDER BY source
        """)
def q_charclass_profile(spark, sf_dir):
    # Character-class composition per source (alpha/digit/space/other)
    # - the wrong-script / binary-garbage crawl monitor
    # (text.py:charclass_profile).
    docs = _t(spark, sf_dir, "documents")
    return TX.charclass_profile(docs).orderBy("source")


@key("llm_compression_ratio", oracle="""
            WITH per AS (
                SELECT source, length(text) AS chars,
                       len(string_split_regex(lower(trim(text)),
                           '\\s+')) AS ws,
                       len(regexp_extract_all(lower(text),
                           '([a-z]+|[0-9]+|[^a-z0-9\\s])', 1)) AS bpe
                FROM documents
            ),
            agg AS (
                SELECT source, count(*) AS n_docs,
                       sum(chars)::BIGINT AS total_chars,
                       sum(ws)::BIGINT AS total_ws_tokens,
                       sum(bpe)::BIGINT AS total_bpe_tokens
                FROM per GROUP BY 1
            )
            SELECT source, n_docs, total_chars, total_ws_tokens,
                   total_bpe_tokens,
                   round(total_chars::DOUBLE / total_ws_tokens, 4)
                       AS chars_per_ws_token,
                   round(total_chars::DOUBLE / total_bpe_tokens, 4)
                       AS chars_per_bpe_token
            FROM agg ORDER BY source
        """)
def q_compression_ratio(spark, sf_dir):
    # Tokenizer economy per source: chars per whitespace token and per
    # BPE-ish regex token — the mix-budgeting proxy
    # (text.py:compression_ratio).
    docs = _t(spark, sf_dir, "documents")
    return TX.compression_ratio(docs).orderBy("source")


@key("llm_readability", oracle="""
            WITH c AS (
                SELECT doc_id,
                       len(string_split_regex(trim(text), '\\s+'))
                           AS n_words,
                       greatest(1, len(regexp_extract_all(text,
                           '[.!?]+'))) AS n_sentences,
                       len(regexp_extract_all(lower(text), '[aeiouy]+'))
                           AS n_syllables
                FROM documents
            )
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   round(206.835
                         - 1.015 * (n_words::DOUBLE / n_sentences)
                         - 84.6 * (n_syllables::DOUBLE / n_words), 4)
                       AS flesch_ease,
                   round(0.39 * (n_words::DOUBLE / n_sentences)
                         + 11.8 * (n_syllables::DOUBLE / n_words)
                         - 15.59, 4) AS fk_grade
            FROM c ORDER BY doc_id
        """)
def q_readability(spark, sf_dir):
    # Flesch reading ease + FK grade per document from vowel-group
    # syllable counting — three regex counts, all JVM column
    # expressions, no UDF (text.py:readability_scores).
    docs = _t(spark, sf_dir, "documents")
    return TX.readability_scores(docs).orderBy("doc_id")


@key("llm_tokenizer_fertility", oracle="""
            WITH w AS (
                SELECT lang AS slice,
                       string_split_regex(lower(trim(text)), '\\s+') AS ws,
                       length(text)::BIGINT AS c
                FROM documents
            ),
            per AS (
                SELECT slice, c,
                       len(ws)::BIGINT AS nw,
                       list_sum(list_transform(ws,
                           t -> (length(t) + 3) // 4))::BIGINT AS np
                FROM w
            ),
            agg AS (
                SELECT slice, count(*) AS n_docs,
                       sum(nw)::BIGINT AS n_words,
                       sum(c)::BIGINT AS n_chars,
                       sum(np)::BIGINT AS n_pieces
                FROM per GROUP BY slice
            )
            SELECT slice, n_docs, n_words, n_chars, n_pieces,
                   (n_pieces * 1000 * 2 + n_words) // (2 * n_words)
                       AS pieces_per_word_e3,
                   (n_pieces * 100000 * 2 + n_chars) // (2 * n_chars)
                       AS pieces_per_100chars_e3
            FROM agg ORDER BY slice
        """)
def q_tokenizer_fertility(spark, sf_dir):
    # Per-language tokenizer cost model: sub-word pieces (4-char BPE
    # proxy) per word and per 100 chars, exact integer totals and
    # half-up e3 ratios - the fertility table token-budget mixture
    # planning consumes (text.py:tokenizer_fertility).
    return TX.tokenizer_fertility(_t(spark, sf_dir, "documents")).orderBy(
        "slice"
    )


@key("llm_ngram_novelty", oracle="""
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            sh AS (
                SELECT doc_id, CASE WHEN len(words) >= 3
                    THEN list_transform(range(1, len(words)-1),
                         i -> array_to_string(words[i:i+2], ' '))
                    ELSE [array_to_string(words, ' ')] END AS shingles
                FROM w
            ),
            po AS (
                SELECT doc_id, unnest(list_distinct(shingles)) AS shingle
                FROM sh
            ),
            f AS (
                SELECT shingle, min(doc_id) AS first_id FROM po GROUP BY 1
            )
            SELECT doc_id,
                   count(*) AS n_shingles,
                   sum((first_id = po.doc_id)::INT)::BIGINT AS n_novel,
                   round(sum((first_id = po.doc_id)::INT)
                         / count(*)::DOUBLE, 6) AS novelty
            FROM po JOIN f USING (shingle)
            GROUP BY 1
        """)
def q_ngram_novelty(spark, sf_dir):
    # Corpus-order novelty: fraction of each doc's distinct 3-grams
    # first seen in that doc — shingle-keyed first-occurrence join,
    # no doc-vs-doc comparison (text.py:ngram_novelty).
    return TX.ngram_novelty(_t(spark, sf_dir, "documents"), k=3)


@generated
def _word_vectors_oracle(con, sf):
    """Independent numpy reference for llm_word_vectors (see
    survey._svd_embed_oracle): PPMI co-occurrence (window 3, min_count
    5, dim 64) -> top-8 SVD projection, per term."""
    import numpy as np

    from streaming_demos_spark.functions import numpy_ref as NR
    from streaming_demos_spark.functions.tfidf import svd_components

    docs = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')"
        " ORDER BY doc_id"
    ).fetchall()
    texts = [r[1] for r in docs]
    pv = NR.ppmi_vectors(texts, window=3, min_count=5, dim=64)
    terms = sorted(pv)
    Xp = np.stack([pv[t] for t in terms])
    Vp = svd_components(Xp.T @ Xp, 8)
    rows = []
    for t in terms:
        e = np.round(pv[t] @ Vp, 9)
        rows.extend(
            ("'%s'" % t.replace("'", "''"), j, NR.jvm_round(e[j], 6))
            for j in range(8)
        )
    return values_sql(
        rows, "VARCHAR", ("term", "component_idx", "value")
    )


@key("llm_word_vectors", oracle=_word_vectors_oracle)
def q_word_vectors(spark, sf_dir):
    # PPMI-SVD word embeddings (Levy & Goldberg 2014): directional
    # windowed co-occurrence -> slot-hashed PPMI rows -> distributed
    # gram + driver eigh + map-only projection. Hash-verified against
    # the independent numpy implementation (functions/numpy_ref.py)
    # via the component-grid convention (tfidf.svd_components) and a
    # 6-dp output round. Output unnested to scalar rows.
    from streaming_demos_spark.functions import tfidf as TI

    emb = TI.ppmi_word_vectors(
        _t(spark, sf_dir, "documents"), window=3, min_count=5, dim=64, k=8
    )
    return emb.select(
        "term", F.posexplode("embedding").alias("component_idx", "_v")
    ).select(
        "term", "component_idx", F.round(F.col("_v"), 6).alias("value")
    )


@key("llm_hybrid_rerank", oracle="""
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
            sparse AS (
                SELECT doc_id, term,
                       round(tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 9)
                           AS w_
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            ),
            norms AS (
                SELECT doc_id, sqrt(sum(w_ * w_)) AS nrm
                FROM sparse GROUP BY doc_id
            ),
            qv AS (SELECT term, w_ AS qw FROM sparse WHERE doc_id = 0),
            dots AS (
                SELECT s.doc_id, sum(s.w_ * q.qw) AS dot
                FROM sparse s JOIN qv q USING (term)
                WHERE s.doc_id <> 0
                GROUP BY 1
            ),
            cos AS (
                SELECT d.doc_id,
                       round(d.dot / (n1.nrm * n2.nrm), 6) AS cosine
                FROM dots d
                JOIN norms n1 ON d.doc_id = n1.doc_id
                JOIN norms n2 ON n2.doc_id = 0
            ),
            r1 AS (
                SELECT doc_id, cosine,
                       row_number() OVER (ORDER BY cosine DESC, doc_id)
                           AS rk1
                FROM cos
                QUALIFY rk1 <= 20
            ),
            w AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS words
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       list_distinct(CASE WHEN len(words) >= 3
                           THEN list_transform(range(1, len(words)-1),
                                i -> array_to_string(words[i:i+2], ' '))
                           ELSE [array_to_string(words, ' ')] END) AS s
                FROM w
            ),
            qs AS (SELECT s AS qsh FROM sh WHERE doc_id = 0),
            jac AS (
                SELECT sh.doc_id,
                       (len(list_intersect(s, qsh)) * 10000 * 2
                        + (len(s) + len(qsh)
                           - len(list_intersect(s, qsh))))
                       // (2 * (len(s) + len(qsh)
                                - len(list_intersect(s, qsh))))
                           AS jaccard_e4
                FROM sh CROSS JOIN qs
                WHERE sh.doc_id <> 0
                  AND len(list_intersect(s, qsh)) > 0
            ),
            r2 AS (
                SELECT doc_id, jaccard_e4,
                       row_number() OVER (ORDER BY jaccard_e4 DESC, doc_id)
                           AS rk2
                FROM jac
                QUALIFY rk2 <= 20
            )
            SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id,
                   coalesce(cosine, 0.0::DOUBLE) AS cosine,
                   coalesce(jaccard_e4, 0)::BIGINT AS jaccard_e4,
                   (coalesce((1000000 * 2 + (60 + rk1))
                             // (2 * (60 + rk1)), 0)
                    + coalesce((1000000 * 2 + (60 + rk2))
                               // (2 * (60 + rk2)), 0))::BIGINT AS rrf_e6
            FROM r1 FULL JOIN r2 ON r1.doc_id = r2.doc_id
            ORDER BY rrf_e6 DESC, doc_id
            LIMIT 10
        """)
def q_hybrid_rerank(spark, sf_dir):
    # Hybrid retrieval: reciprocal-rank fusion of TF-IDF cosine and
    # shingle-Jaccard rankings for query doc 0 — each side capped at 20
    # candidates via TakeOrderedAndProject; the Jaccard side is fully
    # map-side (tfidf.py:hybrid_rerank).
    from streaming_demos_spark.functions import tfidf as TI

    return TI.hybrid_rerank(
        _t(spark, sf_dir, "documents"), query_id=0, k_candidates=20, k=10
    )


@key("llm_zipf_fit", oracle="""
            WITH toks AS (
                SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
                    AS term
                FROM documents
            ),
            freq AS (SELECT term, count(*) AS f FROM toks GROUP BY 1),
            xy AS (
                SELECT log2((row_number() OVER (ORDER BY f DESC, term))::DOUBLE)
                           AS x,
                       log2(f::DOUBLE) AS y
                FROM freq
            )
            SELECT count(*) AS n_terms,
                   round(covar_pop(x, y) / var_pop(x), 4) AS zipf_slope,
                   round((covar_pop(x, y) * covar_pop(x, y))
                         / (var_pop(x) * var_pop(y)), 4) AS r2
            FROM xy
        """)
def q_zipf_fit(spark, sf_dir):
    # Zipf exponent of the corpus term-frequency distribution:
    # closed-form log-log regression over the vocabulary-bounded
    # frequency table (relational.py:zipf_fit).
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(TX.tokens("text")).alias("term")
    )
    return R.zipf_fit(toks, "term")


@key("llm_ppmi_cooccurrence", oracle="""
            WITH t AS (
                SELECT string_split_regex(lower(trim(text)), '\\s+') AS tk
                FROM documents
            ),
            p AS (
                SELECT unnest(flatten(list_transform(tk, (x, i) ->
                    list_transform(tk[i+1:least(i+3, len(tk))], y ->
                        struct_pack(w1 := least(x, y),
                                    w2 := greatest(x, y)))))) AS p
                FROM t
            ),
            bc AS (
                SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair
                FROM p GROUP BY 1, 2
            ),
            marg AS (
                SELECT w, sum(c) AS m FROM (
                    SELECT w1 AS w, n_pair AS c FROM bc
                    UNION ALL SELECT w2, n_pair FROM bc
                ) GROUP BY 1
            ),
            tot AS (SELECT sum(n_pair)::DOUBLE AS t FROM bc)
            SELECT w1, w2, n_pair,
                   round(greatest(0.0::DOUBLE,
                       log2((n_pair / tot.t)
                            / ((m1.m / (2 * tot.t)) * (m2.m / (2 * tot.t))))),
                       4) AS ppmi
            FROM bc
            JOIN marg m1 ON bc.w1 = m1.w
            JOIN marg m2 ON bc.w2 = m2.w
            CROSS JOIN tot
            WHERE n_pair >= 5
            ORDER BY ppmi DESC, w1, w2
            LIMIT 100
        """)
def q_ppmi_cooccurrence(spark, sf_dir):
    # Windowed co-occurrence PPMI (count-based embedding statistic):
    # map-side nested-transform pair build, one pair-count shuffle,
    # marginals derived from the count table (text.py:ppmi_cooccurrence).
    return TX.ppmi_cooccurrence(
        _t(spark, sf_dir, "documents"), window=3, min_count=5, top_n=100
    )


@key("llm_bpe_encode", oracle=TX.sql_bpe_encode_stats)
def q_bpe_encode(spark, sf_dir):
    # Frozen-tokenizer BPE APPLY (the other half of llm_bpe_pair_stats'
    # fit loop): per-doc whitespace vs BPE token counts under a static
    # merge table — encode once per DISTINCT word, join back by word
    # (text.py:bpe_encode_stats).
    return TX.bpe_encode_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@key("llm_kneser_ney_bigram", oracle="""
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS w
                FROM documents
            ),
            big AS (
                SELECT w[i] || ' ' || w[i + 1] AS bigram
                FROM toks, unnest(range(1, len(w))) AS t(i)
                WHERE len(w) >= 2
            ),
            cab AS (SELECT bigram, count(*) AS c_ab FROM big GROUP BY 1),
            typed AS (
                SELECT bigram, c_ab,
                       string_split(bigram, ' ')[1] AS a,
                       string_split(bigram, ' ')[2] AS b
                FROM cab
            ),
            ctx AS (
                SELECT a, sum(c_ab) AS c_a, count(*) AS n1p_fwd
                FROM typed GROUP BY 1
            ),
            cont AS (SELECT b, count(*) AS n1p_cont FROM typed GROUP BY 1),
            sc AS (SELECT count(*) AS d FROM cab),
            scored AS (
                SELECT bigram, c_ab, c_a,
                       ((greatest(4 * c_ab - 3, 0) * 1000000000)
                        // (4 * c_a))::BIGINT
                       + ((3 * n1p_fwd * n1p_cont * 1000000000)
                          // (4 * c_a * d))::BIGINT AS p_kn_e9
                FROM typed JOIN ctx USING (a) JOIN cont USING (b)
                CROSS JOIN sc
            )
            SELECT bigram, c_ab::BIGINT AS c_ab, c_a::BIGINT AS c_a,
                   p_kn_e9
            FROM scored ORDER BY c_ab DESC, bigram LIMIT 20
        """)
def q_kneser_ney(spark, sf_dir):
    # Production n-gram smoothing: KN bigram probabilities with d=3/4,
    # computed entirely as e9 integers (continuation counts from the
    # bigram table, never row-scaled) (text.py:kneser_ney_bigram).
    return TX.kneser_ney_bigram(_t(spark, sf_dir, "documents"))


@key("llm_heavy_changes", oracle="""
            WITH ts AS (
                SELECT term,
                       sum(CASE WHEN firsthalf THEN 1 ELSE 0 END) AS c_first,
                       sum(CASE WHEN firsthalf THEN 0 ELSE 1 END) AS c_second
                FROM (
                    SELECT (doc_id % 2 = 0) AS firsthalf,
                           unnest(string_split_regex(lower(trim(text)),
                                                     '\\s+')) AS term
                    FROM documents
                ) GROUP BY 1
                HAVING count(*) >= 5
            ),
            tt AS (SELECT sum(c_first) AS t1, sum(c_second) AS t2 FROM ts),
            scored AS (
                SELECT term, c_first, c_second,
                       CASE WHEN c_first * t2 < c_second * t1
                            THEN -1 ELSE 1 END AS direction,
                       ((abs(c_first * t2 - c_second * t1)
                         * 1000000000 * 2 + t1 * t2)
                        // (2 * t1 * t2))::BIGINT AS abs_delta_e9
                FROM ts CROSS JOIN tt
            )
            SELECT term, c_first::BIGINT AS c_first,
                   c_second::BIGINT AS c_second,
                   direction::INT AS direction, abs_delta_e9
            FROM scored ORDER BY abs_delta_e9 DESC, term LIMIT 20
        """)
def q_heavy_changes(spark, sf_dir):
    # Corpus drift: top relative-frequency movers between even/odd doc
    # slices, ranked by an exact e9 integer |delta| with explicit sign
    # (text.py:heavy_changes).
    return TX.heavy_changes(_t(spark, sf_dir, "documents"))


@key("llm_vocab_growth", oracle="""
            WITH toks AS (
                SELECT doc_id AS id,
                       unnest(string_split_regex(lower(trim(text)),
                                                 '\\s+')) AS t
                FROM documents
            ),
            mx AS (SELECT max(doc_id) AS m FROM documents),
            pt AS (SELECT t, min(id) AS firstdoc FROM toks GROUP BY 1),
            dt AS (SELECT id, count(*) AS n FROM toks GROUP BY 1),
            pr AS (SELECT unnest(range(1, 11)) AS prefix),
            -- LEFT joins: every prefix row must exist even when no
            -- term/doc has arrived by its threshold (the Spark side
            -- emits (prefix, 0, 0) there; inner joins would drop the
            -- row and split the row sets on such slices)
            v AS (
                SELECT prefix, count(pt.t) AS vocab
                FROM pr CROSS JOIN mx
                LEFT JOIN pt ON pt.firstdoc <= (m * prefix) // 10
                GROUP BY 1
            ),
            tk AS (
                SELECT prefix,
                       COALESCE(sum(CASE WHEN id <= (m * prefix) // 10
                                         THEN n ELSE 0 END), 0)
                           AS n_tokens
                FROM pr CROSS JOIN mx LEFT JOIN dt ON true
                GROUP BY 1
            )
            SELECT tk.prefix::INT AS prefix,
                   tk.n_tokens::BIGINT AS n_tokens,
                   v.vocab::BIGINT AS vocab
            FROM tk JOIN v USING (prefix)
            ORDER BY prefix
        """)
def q_vocab_growth(spark, sf_dir):
    # Heaps-law vocabulary growth over 10 id-threshold corpus prefixes
    # - exact integer (prefix, n_tokens, vocab) curve, no global sort
    # (text.py:vocab_growth).
    return TX.vocab_growth(_t(spark, sf_dir, "documents"))


@key("llm_lang_confusion", oracle=lambda: "WITH _pred AS ("
            + _SQL_LANG_ID
            + """)
            SELECT d.lang AS label_lang, p.pred_lang,
                   count(*) AS n_docs
            FROM documents d JOIN _pred p USING (doc_id)
            GROUP BY 1, 2 ORDER BY 1, 2
            """)
def q_lang_confusion(spark, sf_dir):
    # Language-ID eval: marker-word predictions vs the labeled lang
    # column as an exact-integer confusion matrix (text.py:lang_id).
    docs = _t(spark, sf_dir, "documents")
    preds = TX.lang_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("label_lang"))
        .join(preds, "doc_id")
        .groupBy("label_lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("label_lang", "pred_lang")
    )
