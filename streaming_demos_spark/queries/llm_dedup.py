"""``llm_*`` keys that compose operators/dedup.py: exact, MinHash,
n-gram Jaccard, SimHash, containment and incremental near-duplicate
detection. The ``_sql_*`` helpers are the DuckDB oracles several of
these keys (and llm_training) share.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import dedup as D
from streaming_demos_spark.queries import key


@key("llm_dedup_exact", oracle="""
            SELECT md5(text) AS text_hash,
                   min(doc_id) AS keep_doc_id,
                   count(*) AS n_copies
            FROM documents
            GROUP BY 1
        """)
def q_dedup_exact(spark, sf_dir):
    # Exact dedup groups: md5-hash groupBy, min-id representative.
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"))


def _sql_words(src: str = "documents") -> str:
    return f"SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words FROM {src}"


def _sql_shingles() -> str:
    # Word 3-grams; short docs collapse to one whole-document shingle
    # (mirrors operators.text.shingles_from_tokens).
    return (
        "SELECT doc_id, CASE WHEN len(words) >= 3 "
        "THEN list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2], ' ')) "
        "ELSE [array_to_string(words, ' ')] END AS shingles FROM w"
    )


def _sql_minhash_pairs(threshold: float = 0.1, num_hashes: int = 12, band_rows: int = 3) -> str:
    """DuckDB replay of the full MinHash-LSH pipeline (md5-based, so the
    hashes agree with Spark bit-for-bit). The verify threshold is an
    exact integer cross-multiplication and the emitted similarity a
    half-up e4 integer, mirroring minhash_near_dup_pairs."""
    from fractions import Fraction

    _f = Fraction(str(threshold))
    p_, q_ = _f.numerator, _f.denominator
    mh_exprs = ",\n               ".join(
        f"list_min(list_transform(shingles, s -> md5('{h}|' || s))) AS mh_{h}"
        for h in range(num_hashes)
    )
    n_bands = num_hashes // band_rows
    band_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({cat}) AS band_hash FROM sig".format(
            b=b,
            cat=" || '|' || ".join(f"mh_{b * band_rows + r}" for r in range(band_rows)),
        )
        for b in range(n_bands)
    )
    return f"""
        WITH w AS ({_sql_words()}),
        sh AS ({_sql_shingles()}),
        sig AS (
            SELECT doc_id,
               {mh_exprs}
            FROM (SELECT doc_id, shingles FROM sh)
        ),
        bands AS (
            {band_selects}
        ),
        sized AS (
            SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS bucket_n
            FROM bands
        ),
        okb AS (SELECT * FROM sized WHERE bucket_n <= 50),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM okb a JOIN okb b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        scored AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(list_distinct(sa.shingles),
                                      list_distinct(sb.shingles))) AS i,
                   len(list_distinct(sa.shingles))
                   + len(list_distinct(sb.shingles))
                   - len(list_intersect(list_distinct(sa.shingles),
                                        list_distinct(sb.shingles))) AS u
            FROM cand
            JOIN sh sa ON cand.doc_a = sa.doc_id
            JOIN sh sb ON cand.doc_b = sb.doc_id
        )
        SELECT doc_a, doc_b,
               ((i * 10000 * 2 + u) // (2 * u))::BIGINT AS jaccard_e4
        FROM scored WHERE u > 0 AND i * {q_} >= {p_} * u
        ORDER BY doc_a, doc_b
    """


@key(
    "llm_dedup_minhash_pairs",
    oracle=lambda: _sql_minhash_pairs(threshold=0.1),
)
def q_dedup_minhash_pairs(spark, sf_dir):
    # MinHash(12 hashes)->LSH(4 bands x 3 rows)->exact-Jaccard verify.
    # Threshold 0.1 surfaces the band-collision candidates in the
    # synthetic corpus (no true near-dups at sf0.01, so the interesting
    # output is the verified candidate set itself).
    return D.minhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.1
    ).orderBy("doc_a", "doc_b")


def _sql_neardup_clusters(threshold: float = 0.1) -> str:
    """DuckDB replay of near_dup_clusters: the minhash-pair SQL (nested
    as a CTE) -> recursive-CTE transitive closure taking the min
    reachable id as the component label -> singleton fill + sizes +
    min-id keep flag. Mirrors operators.dedup.connected_components'
    fixpoint exactly (both compute min-reachable-id)."""
    return f"""
        WITH RECURSIVE
        pairs AS ({_sql_minhash_pairs(threshold)}),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
        ),
        comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
        labeled AS (
            SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        ),
        sizes AS (
            SELECT component, count(*) AS n_members FROM labeled GROUP BY component
        )
        SELECT l.doc_id, l.component, s.n_members,
               COALESCE(l.doc_id = l.component, FALSE) AS is_kept
        FROM labeled l JOIN sizes s USING (component)
        ORDER BY l.doc_id
    """


@key("llm_dedup_clusters", oracle=lambda: _sql_neardup_clusters(threshold=0.1))
def q_dedup_clusters(spark, sf_dir):
    # Near-dup CLUSTERING: minhash pairs (threshold 0.1, as above) ->
    # connected components (iterative min-label propagation; transitive
    # closure because near-dup similarity is not transitive) -> keep the
    # min-id doc per cluster. One row per document.
    return D.near_dup_clusters(
        _t(spark, sf_dir, "documents"), threshold=0.1
    ).orderBy("doc_id")


def _sql_ngram_jaccard(threshold: float = 0.5, max_bucket: int = 50) -> str:
    """DuckDB replay of the inverted-index exact Jaccard join
    (operators.dedup.ngram_jaccard_pairs): same distinct-shingle
    postings, integer length filter, bucket cap, and per-pair exact
    intersection threshold + half-up e4 similarity."""
    from fractions import Fraction

    _f = Fraction(str(threshold))
    p_, q_ = _f.numerator, _f.denominator
    return f"""
        WITH w AS ({_sql_words()}),
        sh AS ({_sql_shingles()}),
        ss AS (
            SELECT doc_id, list_distinct(shingles) AS s
            FROM sh
        ),
        postings AS (
            SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM ss
        ),
        capped AS (
            SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY shingle) AS bucket_n
                FROM postings
            ) WHERE bucket_n <= {max_bucket}
        ),
        agg AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n AS n_a, b.n AS n_b, count(*) AS isect
            FROM capped a JOIN capped b
              ON a.shingle = b.shingle
             AND a.doc_id < b.doc_id
             AND a.n * {q_} >= b.n * {p_} AND b.n * {q_} >= a.n * {p_}
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b,
               ((isect * 10000 * 2 + (n_a + n_b - isect))
                // (2 * (n_a + n_b - isect)))::BIGINT AS jaccard_e4
        FROM agg
        WHERE isect * {q_} >= {p_} * (n_a + n_b - isect)
        ORDER BY doc_a, doc_b
    """


@key("llm_dedup_jaccard", oracle=lambda: _sql_ngram_jaccard(threshold=0.5))
def q_dedup_jaccard(spark, sf_dir):
    # EXACT n-gram Jaccard similarity join: prefix-filtered candidates
    # (AllPairs rule, lexicographic shingle order) + length filter,
    # then exact Jaccard verify at threshold 0.5 — the no-false-negative
    # complement to the MinHash approximation.
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5
    ).orderBy("doc_a", "doc_b")


def _sql_simhash(prefix_bits: int = 8) -> str:
    bits = " || ".join(
        f"(CASE WHEN list_sum(list_transform(hw, h -> CASE WHEN substr(h, {j + 1}, 1) >= '8' "
        "THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END)"
        for j in range(32)
    )
    return f"""
        WITH w AS ({_sql_words()}),
        hashed AS (SELECT doc_id, list_transform(words, x -> md5(x)) AS hw FROM w),
        fp AS (SELECT doc_id, {bits} AS simhash FROM hashed)
        SELECT doc_id, simhash, substr(simhash, 1, {prefix_bits}) AS simhash_prefix FROM fp
    """


@key("llm_dedup_simhash", oracle=lambda: _sql_simhash(prefix_bits=8))
def q_dedup_simhash(spark, sf_dir):
    # 32-bit SimHash fingerprint + 8-bit LSH prefix per document.
    return D.simhash_fingerprints(_t(spark, sf_dir, "documents"))


@key("llm_block_dedup", oracle="""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    blocks AS (
        SELECT doc_id, b.pos, b.block
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(0, greatest(cast(ceil(len(w) / 20.0) AS BIGINT), 1)),
                       i -> {'pos': i,
                             'block': array_to_string(w[i*20+1 : i*20+20], ' ')}
                   ) AS bl
            FROM toks
        ), unnest(bl) AS u(b)
    ),
    ranked AS (
        SELECT doc_id, pos, block,
               row_number() OVER (
                   PARTITION BY md5(block) ORDER BY doc_id, pos
               ) = 1 AS keep
        FROM blocks
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN block END, ' '
                               ORDER BY pos), '') AS text,
           count(*) AS n_blocks,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           ((sum(CASE WHEN keep THEN 1 ELSE 0 END) * 10000 * 2
             + count(*)) // (2 * count(*)))::BIGINT AS keep_ratio_e4
    FROM ranked
    GROUP BY doc_id
    ORDER BY doc_id
""")
def q_block_dedup(spark, sf_dir):
    # Sub-document block dedup (RefinedWeb "paragraph dedup" restated
    # for newline-free corpora): drop 20-word blocks whose exact content
    # occurred earlier in the corpus, reassemble, report keep ratios
    # (operators/dedup.py:block_dedup).
    # no orderBy: the checker canonical-sorts rows itself; a global
    # sort would only add a range exchange at scale
    return D.block_dedup(_t(spark, sf_dir, "documents"), block_words=20)


def _sql_incremental_near_dup(
    threshold: float = 0.1, num_hashes: int = 12, band_rows: int = 3
) -> str:
    """DuckDB replay of incremental_near_dup on the %5 delta/base split:
    one shared signature pass, bands split by side, bucket cap on the
    BASE side only, two-table candidate join, exact integer-threshold
    Jaccard verify with a half-up e4 similarity."""
    from fractions import Fraction

    _f = Fraction(str(threshold))
    p_, q_ = _f.numerator, _f.denominator
    mh_exprs = ",\n               ".join(
        f"list_min(list_transform(shingles, s -> md5('{h}|' || s))) AS mh_{h}"
        for h in range(num_hashes)
    )
    n_bands = num_hashes // band_rows
    band_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({cat}) AS band_hash FROM sig".format(
            b=b,
            cat=" || '|' || ".join(f"mh_{b * band_rows + r}" for r in range(band_rows)),
        )
        for b in range(n_bands)
    )
    return f"""
        WITH w AS ({_sql_words()}),
        sh AS ({_sql_shingles()}),
        sig AS (
            SELECT doc_id,
               {mh_exprs}
            FROM (SELECT doc_id, shingles FROM sh)
        ),
        bands AS (
            {band_selects}
        ),
        nb AS (SELECT doc_id AS new_id, band_id, band_hash
               FROM bands WHERE doc_id % 5 = 0),
        bbs AS (
            SELECT doc_id AS base_id, band_id, band_hash,
                   count(*) OVER (PARTITION BY band_id, band_hash)
                       AS bucket_n
            FROM bands WHERE doc_id % 5 <> 0
        ),
        bb AS (SELECT base_id, band_id, band_hash FROM bbs
               WHERE bucket_n <= 50),
        cand AS (
            SELECT DISTINCT new_id, base_id
            FROM nb JOIN bb USING (band_id, band_hash)
        ),
        scored AS (
            SELECT new_id, base_id,
                   len(list_intersect(list_distinct(sa.shingles),
                                      list_distinct(sb.shingles))) AS i,
                   len(list_distinct(sa.shingles))
                   + len(list_distinct(sb.shingles))
                   - len(list_intersect(list_distinct(sa.shingles),
                                        list_distinct(sb.shingles))) AS u
            FROM cand
            JOIN sh sa ON cand.new_id = sa.doc_id
            JOIN sh sb ON cand.base_id = sb.doc_id
        )
        SELECT new_id, base_id,
               ((i * 10000 * 2 + u) // (2 * u))::BIGINT AS jaccard_e4
        FROM scored WHERE u > 0 AND i * {q_} >= {p_} * u
        ORDER BY new_id, base_id
    """


@key(
    "llm_incremental_near_dup",
    oracle=lambda: _sql_incremental_near_dup(threshold=0.1),
)
def q_incremental_near_dup(spark, sf_dir):
    # Crawl-refresh fuzzy gate (dedup.py:incremental_near_dup): delta
    # docs (doc_id%5==0) checked for near-dups already in the base
    # corpus (doc_id%5!=0) via a two-table band join + exact verify.
    docs = _t(spark, sf_dir, "documents")
    return D.incremental_near_dup(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        threshold=0.1,
    ).orderBy("new_id", "base_id")


def _sql_dedup_report(threshold: float = 0.1) -> str:
    """DuckDB replay of dedup_report: exact-dup counts + aggregates over
    the recursive-closure cluster labels."""
    return f"""
        WITH RECURSIVE
        pairs AS ({_sql_minhash_pairs(threshold)}),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
        ),
        comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
        labeled AS (
            SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        ),
        sizes AS (
            SELECT component, count(*) AS n_members FROM labeled GROUP BY component
        ),
        per_doc AS (
            SELECT l.doc_id, l.component, s.n_members,
                   COALESCE(l.doc_id = l.component, FALSE) AS is_kept
            FROM labeled l JOIN sizes s USING (component)
        ),
        ex AS (
            SELECT count(*) AS n_docs,
                   count(DISTINCT md5(text)) AS n_texts
            FROM documents
        )
        SELECT ex.n_docs,
               ex.n_docs - ex.n_texts AS n_exact_dup_rows,
               (SELECT count(DISTINCT component) FROM per_doc
                WHERE n_members > 1) AS n_multi_clusters,
               (SELECT count(*) FROM per_doc WHERE n_members > 1)
                   AS n_near_dup_docs,
               (SELECT count(*) FROM per_doc WHERE is_kept) AS n_near_kept,
               (((SELECT count(*) FROM per_doc WHERE is_kept)
                 * 10000 * 2 + ex.n_docs)
                // (2 * ex.n_docs))::BIGINT AS near_keep_rate_e4
        FROM ex
    """


@key("llm_dedup_report", oracle=lambda: _sql_dedup_report(threshold=0.1))
def q_dedup_report(spark, sf_dir):
    # One-row corpus dedup summary: exact-dup rows + near-dup cluster
    # picture + keep rate (threshold 0.1 like the cluster query).
    return D.dedup_report(_t(spark, sf_dir, "documents"), threshold=0.1)


@key("llm_dedup_simhash_pairs", oracle=lambda: f"""
            WITH fpq AS ({_sql_simhash(prefix_bits=8)}),
            sized AS (
                SELECT *, count(*) OVER (PARTITION BY simhash_prefix) AS bn
                FROM fpq
            ),
            ok AS (SELECT * FROM sized WHERE bn <= 50),
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       len(list_filter(range(1, 33),
                           i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1)))
                           AS hamming
                FROM ok a JOIN ok b
                  ON a.simhash_prefix = b.simhash_prefix
                 AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 6
            ORDER BY doc_a, doc_b
        """)
def q_simhash_pairs(spark, sf_dir):
    # SimHash pairing: shared 8-bit prefix buckets, exact 32-bit
    # Hamming verification <= 6.
    return D.simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=6
    ).orderBy("doc_a", "doc_b")


def _sql_keep_best(threshold: float = 0.1) -> str:
    """DuckDB replay of near_dup_keep_best: minhash clusters (recursive
    closure) joined with the text_stats quality score, rank-1 per
    component on (quality desc, doc_id)."""
    return f"""
        WITH RECURSIVE
        pairs AS ({_sql_minhash_pairs(threshold)}),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
        ),
        comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
        labeled AS (
            SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        ),
        sizes AS (
            SELECT component, count(*) AS n_members FROM labeled GROUP BY component
        ),
        qw AS (
            SELECT doc_id, text,
                   string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents
        ),
        q AS (
            SELECT doc_id,
                   round(
                     least(len(words) / 64.0, 1.0) * 0.4
                     + least((len(list_filter(words, x -> x IN
                              ('the','a','an','and','of','to','in','is','it','for')))
                              / len(words)) * 5.0, 1.0) * 0.2
                     + (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                        / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END)) * 0.4,
                   4) AS quality_score
            FROM qw
        ),
        ranked AS (
            SELECT l.doc_id, l.component, s.n_members, q.quality_score,
                   row_number() OVER (
                       PARTITION BY l.component
                       ORDER BY q.quality_score DESC, l.doc_id
                   ) AS rn
            FROM labeled l
            JOIN sizes s USING (component)
            JOIN q USING (doc_id)
        )
        SELECT doc_id, component, n_members, quality_score,
               rn = 1 AS keep
        FROM ranked
    """


@key("llm_dedup_keep_best", oracle=lambda: _sql_keep_best(threshold=0.1))
def q_dedup_keep_best(spark, sf_dir):
    # Curation-grade near-dup decision: per duplicate cluster keep the
    # highest-quality doc (text_stats score), not the min id.
    return D.near_dup_keep_best(_t(spark, sf_dir, "documents"), threshold=0.1)


@key("llm_dedup_incremental", oracle="""
            WITH new_hashed AS (
                SELECT min(doc_id) AS doc_id, md5(text) AS text_hash
                FROM documents WHERE doc_id % 5 = 0
                GROUP BY md5(text)
            )
            SELECT doc_id, text_hash FROM new_hashed
            WHERE text_hash NOT IN (
                SELECT md5(text) FROM documents WHERE doc_id % 5 <> 0
            )
            ORDER BY doc_id
        """)
def q_dedup_incremental(spark, sf_dir):
    # Crawl-refresh dedup: new batch (doc_id % 5 == 0) checked against
    # the already-deduped base corpus via hash anti-join.
    docs = _t(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    base_docs = docs.filter(F.col("doc_id") % 5 != 0)
    return D.incremental_dedup(new_docs, base_docs)


@key("llm_cross_source_overlap", oracle="""
            WITH toks AS (
                SELECT source,
                       string_split_regex(lower(trim(text)), '\\s+') AS w
                FROM documents
            ),
            hashed AS (
                SELECT DISTINCT source,
                       unnest(list_transform(
                           range(0, greatest(
                               cast(ceil(len(w) / 20.0) AS BIGINT), 1)),
                           i -> md5(array_to_string(
                               w[i*20+1 : i*20+20], ' '))
                       )) AS h
                FROM toks
            ),
            per AS (SELECT source, count(*) AS n_texts FROM hashed GROUP BY 1),
            shared AS (
                SELECT a.source AS source_a, b.source AS source_b,
                       count(*) AS n_shared
                FROM hashed a JOIN hashed b
                  ON a.h = b.h AND a.source < b.source
                GROUP BY 1, 2
            )
            SELECT source_a, source_b, n_shared,
                   ((n_shared * 1000000 * 2
                     + least(pa.n_texts, pb.n_texts))
                    // (2 * least(pa.n_texts, pb.n_texts)))::BIGINT
                       AS overlap_rate_e6
            FROM shared
            JOIN per pa ON pa.source = shared.source_a
            JOIN per pb ON pb.source = shared.source_b
            ORDER BY source_a, source_b
        """)
def q_cross_source_overlap(spark, sf_dir):
    # Cross-domain duplicate matrix (dedup.py:cross_source_overlap) at
    # block_dedup's 20-word-block granularity: distinct (md5, source)
    # -> co-partitioned self-join -> |domains|² aggregate; per-source
    # totals broadcast back. (Whole-document keys report zero overlap
    # on this corpus — every text is unique — so the query exercises
    # the block view.)
    return D.cross_source_overlap(
        _t(spark, sf_dir, "documents"), "source", block_words=20
    )


@key("llm_dedup_containment", oracle="""
            WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words FROM documents),
            sh AS (
                SELECT doc_id, CASE WHEN len(words) >= 3
                    THEN list_transform(range(1, len(words)-1),
                                        i -> array_to_string(words[i:i+2], ' '))
                    ELSE [array_to_string(words, ' ')] END AS shingles
                FROM w
            ),
            ss AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
            postings AS (
                SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM ss
            ),
            capped AS (
                SELECT * FROM (
                    SELECT *, count(*) OVER (PARTITION BY shingle)
                        AS bucket_n
                    FROM postings
                ) WHERE bucket_n <= 50
            ),
            agg AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.n AS n_a, b.n AS n_b, count(*) AS isect
                FROM capped a JOIN capped b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2, 3, 4
            ),
            scored AS (
                SELECT doc_a, doc_b,
                       ((isect * 10000 * 2 + n_a)
                        // (2 * n_a))::BIGINT AS containment_a_e4,
                       ((isect * 10000 * 2 + n_b)
                        // (2 * n_b))::BIGINT AS containment_b_e4
                FROM agg
                WHERE isect * 2 >= least(n_a, n_b)
            )
            SELECT * FROM scored
            ORDER BY doc_a, doc_b
        """)
def q_containment_pairs(spark, sf_dir):
    # Sub-document duplication: asymmetric shingle containment pairs
    # (fragment-of detection) via the inverted-postings join with no
    # length prune (dedup.py:containment_pairs).
    docs = _t(spark, sf_dir, "documents")
    return D.containment_pairs(docs, threshold=0.5).orderBy(
        "doc_a", "doc_b"
    )


@key("llm_dedup_edit_distance", oracle="""
            WITH blocked AS (
                SELECT doc_id,
                       md5(substr(lower(trim(text)), 1, 32)) AS blk,
                       length(lower(trim(text))) // 64 AS band,
                       substr(lower(trim(text)), 1, 256) AS head
                FROM documents
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   levenshtein(a.head, b.head) AS edit_dist
            FROM blocked a
            JOIN blocked b
              ON a.blk = b.blk AND a.band = b.band
             AND a.doc_id < b.doc_id
            WHERE levenshtein(a.head, b.head) <= 24
            ORDER BY doc_a, doc_b
        """)
def q_edit_distance_pairs(spark, sf_dir):
    # Character-level Levenshtein verification under prefix +
    # length-band blocking; JVM levenshtein on capped heads
    # (dedup.py:edit_distance_pairs).
    docs = _t(spark, sf_dir, "documents")
    return D.edit_distance_pairs(docs).orderBy("doc_a", "doc_b")


@key("llm_lsh_tuning", oracle=lambda: f"""
            WITH pj AS (
                SELECT jaccard_e4, jaccard_e4 / 10000.0 AS j
                FROM ({_sql_ngram_jaccard(threshold=0.05)})
            ),
            cfg AS (
                SELECT * FROM (VALUES (4, 3), (3, 4), (2, 6), (6, 2))
                    t(bands, rows)
            )
            SELECT bands, rows, bands * rows AS num_hashes,
                   round(avg(CASE WHEN jaccard_e4 >= 5000 THEN
                       1.0 - pow(1.0 - pow(j, rows), bands) END), 6)
                       AS expected_recall,
                   round(avg(1.0 - pow(1.0 - pow(j, rows), bands)), 6)
                       AS expected_candidate_rate
            FROM pj CROSS JOIN cfg
            GROUP BY bands, rows
        """)
def q_lsh_tuning(spark, sf_dir):
    # Banding design tool: expected recall + candidate rate per (b, r)
    # config from the measured Jaccard distribution, one pair-table
    # pass for every config (dedup.py:lsh_tuning).
    return D.lsh_tuning(
        _t(spark, sf_dir, "documents"),
        configs=((4, 3), (3, 4), (2, 6), (6, 2)),
        pair_threshold=0.05,
        target=0.5,
    )


@key("llm_minhash_lsh_eval", oracle=lambda: f"""
            WITH truth AS ({_sql_ngram_jaccard(threshold=0.1)}),
            found AS ({_sql_minhash_pairs(threshold=0.1)}),
            h AS (
                SELECT count(*) AS n_hits
                FROM found f JOIN truth t
                  ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b
            )
            SELECT (SELECT count(*) FROM truth) AS n_truth,
                   (SELECT count(*) FROM found) AS n_found,
                   n_hits,
                   CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
                       ((n_hits * 1000000 * 2
                         + (SELECT count(*) FROM truth))
                        // (2 * (SELECT count(*) FROM truth)))::BIGINT
                   END AS recall_e6
            FROM h
        """)
def q_minhash_lsh_eval(spark, sf_dir):
    # Dedup-pipeline quality harness: MinHash-LSH verified pairs vs the
    # exact inverted-index Jaccard join at the same threshold — recall
    # of the banding as shipped (dedup.py:minhash_lsh_eval).
    return D.minhash_lsh_eval(
        _t(spark, sf_dir, "documents"), threshold=0.1
    )


@key("llm_dup_spans", oracle="""
            WITH toked AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS w
                FROM documents
            ),
            wins AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(w[i:i+14], ' ')) AS h
                FROM toked, unnest(range(1, len(w) - 15 + 2)) AS t(i)
                WHERE len(w) >= 15
            ),
            canon AS (
                SELECT h, min(doc_id * 1000000 + pos) AS first_key
                FROM wins GROUP BY h
            ),
            dups AS (
                SELECT w.doc_id, w.pos
                FROM wins w JOIN canon USING (h)
                WHERE w.doc_id * 1000000 + w.pos != canon.first_key
            ),
            isl AS (
                SELECT doc_id, pos,
                       CASE WHEN pos > coalesce(max(pos + 14) OVER (
                                PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                            ), -1) THEN 1 ELSE 0 END AS brk
                FROM dups
            ),
            grps AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS grp
                FROM isl
            )
            SELECT doc_id, min(pos) AS span_start,
                   max(pos) + 14 AS span_end, count(*) AS n_windows
            FROM grps GROUP BY doc_id, grp
            ORDER BY doc_id, span_start
        """)
def q_dup_spans(spark, sf_dir):
    # Arbitrary-offset duplicate spans: every maximal run of 15-token
    # windows repeating an earlier corpus occurrence — the suffix-array
    # substring-dedup core, join-shaped (dedup.py:duplicate_spans).
    return D.duplicate_spans(_t(spark, sf_dir, "documents"), k=15)


@key("llm_cluster_split", oracle=lambda: f"""
            SELECT doc_id, component,
                   CASE WHEN ('0x' || substr(md5(component::VARCHAR), 1, 6))::BIGINT % 100 < 10
                        THEN 'holdout' ELSE 'train' END AS split
            FROM ({_sql_neardup_clusters(threshold=0.1)}) base
            ORDER BY doc_id
        """)
def q_cluster_split(spark, sf_dir):
    # Leakage-free train/holdout split: near-dup CLUSTER label (not doc
    # id) is the md5 split key, so near-copies always co-assign and the
    # holdout can't be contaminated by a training-set near-duplicate
    # (dedup.py:cluster_split).
    return D.cluster_split(
        _t(spark, sf_dir, "documents"), threshold=0.1, holdout_pct=10
    ).orderBy("doc_id")


# cluster-size histogram derives from the SAME labeled frame
@key("llm_dup_cluster_sizes", oracle=lambda: "WITH _labeled AS ("
            + _sql_neardup_clusters(threshold=0.1)
            + """)
            , _sizes AS (
                SELECT component, max(n_members) AS cluster_size
                FROM _labeled GROUP BY 1
            )
            SELECT cluster_size, count(*) AS n_clusters,
                   (cluster_size * count(*))::BIGINT AS n_docs,
                   ((cluster_size - 1) * count(*))::BIGINT
                       AS n_removed_by_keep_one
            FROM _sizes GROUP BY 1 ORDER BY 1
            """)
def q_dup_cluster_sizes(spark, sf_dir):
    # Duplicate-structure summary: histogram of near-dup cluster sizes
    # with keep-one removal counts - exact integers over the
    # LSH->connected-components labels (dedup.py:
    # cluster_size_distribution).
    return D.cluster_size_distribution(
        _t(spark, sf_dir, "documents"), threshold=0.1
    )
