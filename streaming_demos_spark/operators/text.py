"""Text-analysis operators for LLM training-data pipelines.

These extend the reference's capability surface toward the 100 TB
training-data goal (BASELINE.json north_star): token counting, quality
scoring, language identification, and document fingerprinting over the
``documents`` table.

Everything here is JVM-side column expressions (split / transform /
filter / aggregate over arrays) — no Python in the data path, full
whole-stage codegen, and every function is deterministic so a DuckDB
oracle can recompute it bit-for-bit.

Design notes for scale: all operators are per-row (embarrassingly
parallel, no shuffle); the only shuffles appear in the dedup/similarity
modules that consume these primitives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streaming_demos_spark.catalog import fan_out
from streaming_demos_spark.functions.sqlfrag import q

# Small deterministic stopword/marker lists (public, trivial).
STOPWORDS_EN = ["the", "a", "an", "and", "of", "to", "in", "is", "it", "for"]

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],  # romanized markers
}


def _sql_tokens(name: str) -> str:
    return f"split(lower(trim({q(name)})), '\\\\s+')"


def tokens(text: str) -> Column:
    """Whitespace tokenization of lowercased text -> array<string>."""
    return F.expr(_sql_tokens(text))


def token_count(text: str) -> Column:
    """Whitespace token count (the cheap `wc -w` estimator)."""
    return F.expr(f"size({_sql_tokens(text)})")


def bpe_ish_token_count(text: str) -> Column:
    """BPE-ish token estimate: count of word-piece matches of a
    tokenizer-like regex (runs of letters, runs of digits, or single
    non-space symbols) — the standard cheap proxy when the real
    tokenizer is unavailable."""
    return F.expr(
        f"size(regexp_extract_all(lower({q(text)}),"
        " '([a-z]+|[0-9]+|[^a-z0-9\\\\s])', 1))"
    )


def _sql_normalize(name: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({q(name)}),"
        " '[^a-z0-9\\\\s]', ''), '\\\\s+', ' '))"
    )


def normalize_text(text: str) -> Column:
    """Canonical form for fingerprinting: lowercase, strip everything
    but alphanumerics+space, collapse whitespace runs to single
    spaces, trim."""
    return F.expr(_sql_normalize(text))


def fingerprint(text: str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    The batch analog of a rolling-hash content id — two documents with
    the same canonical content collide exactly."""
    return F.expr(f"md5({_sql_normalize(text)})")


def shingles_from_tokens(w: str, k: int = 3) -> Column:
    """Sliding word k-grams over an ALREADY MATERIALIZED token-array
    column; documents with fewer than k words collapse to one
    whole-document shingle.

    Materialize-first matters here even more than for the hash chains:
    the transform lambda references ``w`` per element, and when ``w``
    is an inline ``split(text)`` expression codegen re-evaluates the
    regex split for every slice — O(words) splits per row, a measured
    10x slowdown on the documents table at sf0.1. Callers must project
    ``tokens(text)`` to a column first; ``w`` is that column's name."""
    c = q(w)
    return F.expr(
        f"CASE WHEN size({c}) >= {k} THEN "
        f"transform(sequence(1, size({c}) - {k - 1}),"
        f" i -> array_join(slice({c}, i, {k}), ' '))"
        f" ELSE array(array_join({c}, ' ')) END"
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme,
    Schleimer et al. 2003): hash every word ``k``-gram, slide a
    ``window`` over the hash sequence, keep each window's minimum —
    guaranteeing any match of ``window + k - 1`` consecutive words
    between two documents shares a fingerprint, at ~1/window the
    storage of the full shingle set.

    Returns one row per distinct (id, fingerprint). md5-based hashing
    so a DuckDB oracle reproduces it bit-for-bit.

    Scale: entirely map-side (hash chain + windowed min inside array
    expressions, dedup via array_distinct before the explode) — no
    shuffle; downstream overlap joins group on the fingerprint, which
    is uniform by construction."""
    toks = docs.select(F.col(id_col), tokens(text_col).alias("_w"))
    hashed = toks.select(
        F.col(id_col),
        F.transform(
            shingles_from_tokens("_w", k), lambda s: F.md5(s)
        ).alias("_h"),
    )
    m = F.size("_h")
    starts = F.sequence(F.lit(1), F.greatest(m - (window - 1), F.lit(1)))
    fps = F.array_distinct(
        F.transform(starts, lambda i: F.array_min(F.slice("_h", i, window)))
    )
    return hashed.select(F.col(id_col), F.explode(fps).alias("fp"))


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality statistics + a composite quality score.

    Heuristics follow the standard LLM-corpus filters: document length,
    mean word length, stopword ratio, alphabetic ratio. The score is a
    deterministic [0,1] combination so thresholding is reproducible.
    """
    t = F.col(text_col)
    w = tokens(text_col)
    n_tok = F.size(w)
    n_chars = F.length(t)
    mean_word_len = (n_chars - (n_tok - 1)) / n_tok  # chars net of separators
    stop_hits = F.size(F.filter(w, lambda x: x.isin(STOPWORDS_EN)))
    stop_ratio = stop_hits / n_tok
    alpha_chars = F.length(F.regexp_replace(F.lower(t), r"[^a-z]", ""))
    alpha_ratio = alpha_chars / F.when(n_chars > 0, n_chars).otherwise(F.lit(1))
    score = (
        F.least(n_tok / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2
        + alpha_ratio * 0.4
    )
    return docs.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_tokens_bpe"),
        n_chars.alias("n_chars_computed"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word language identification: count per-language marker
    hits, predict the argmax (ties broken by a fixed language order).
    A cheap deterministic heuristic, not a model — the plumbing every
    corpus pipeline needs; swap the scorer for fastText offline."""
    w = tokens(text_col)
    langs = list(LANG_MARKERS)

    # Factory keeps the lambda single-parameter: pyspark infers the
    # higher-order-function arity from the Python signature, so a
    # default-arg capture (lambda x, ms=...) would silently become the
    # 2-arg (element, index) form.
    def _marker_hits(markers: list[str]):
        return lambda x: x.isin(markers)

    scores = {
        lang: F.size(F.filter(w, _marker_hits(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("und")
    # Last-wins in reverse order => first language in LANG_MARKERS order
    # wins ties, matching the oracle's CASE chain.
    for lang in reversed(langs):
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return docs.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )


def char_ngram_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document Shannon entropy of character ``n``-grams over the
    normalized text — the standard cheap repetition/garbage signal for
    corpus filtering (templated or looping text scores low, natural
    prose high; complements ``repetition_stats``' word-level view).

    Numerically stable form: H = log2(T) - (Σ c·log2 c)/T over gram
    counts c with T = Σ c, so no per-gram probability division.

    Plan: map-side gram expansion (substr chain inside array
    expressions) -> explode -> two combinable aggregations
    ((doc, gram) counts, then per-doc entropy) — both shuffles are
    partial-agg friendly and keyed by doc id, linear scale-out."""
    txt = normalize_text(text_col)
    base = fan_out(docs.select(F.col(id_col), txt.alias("_t")), id_col)
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("_t") - (n - 1), F.lit(1))
    )
    grams = base.select(
        F.col(id_col),
        F.explode(
            F.transform(starts, lambda i: F.col("_t").substr(i, F.lit(n)))
        ).alias("gram"),
    )
    counts = grams.groupBy(id_col, "gram").agg(F.count("*").alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("_tot"),
            F.sum(F.col("c") * F.log2("c")).alias("_s"),
        )
        .select(
            id_col,
            F.col("_tot").alias("n_grams"),
            F.round(F.log2("_tot") - F.col("_s") / F.col("_tot"), 4).alias(
                "entropy"
            ),
        )
    )


def vocab_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Corpus vocabulary table: per term, document frequency (docs
    containing it), collection frequency (total occurrences), and the
    df fraction — the statistics behind min_df/max_df vocabulary
    pruning and stopword discovery on a new corpus.

    Plan: explode tokens -> ONE partial-aggregating shuffle on
    (doc, term) for df+cf inputs -> a second, much smaller shuffle on
    term. Total-docs rides in as a broadcast scalar aggregate (no
    driver collect)."""
    toks = fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    per_doc = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    terms = per_doc.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    if min_df > 1:
        terms = terms.filter(F.col("df") >= min_df)
    n_docs = docs.agg(F.countDistinct(id_col).alias("_n"))
    return (
        terms.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df",
            "cf",
            F.round(F.col("df") / F.col("_n"), 6).alias("df_frac"),
        )
    )


def unigram_surprisal(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document mean unigram surprisal — the cheap 'perplexity
    filter' analog used to rank corpus quality without a model: estimate
    p(w) from the corpus itself with add-``alpha`` smoothing
    (p = (cf + a) / (T + a·V)), then score each document by the mean
    -ln p(w) over its token INSTANCES. Unusually high surprisal marks
    rare-token garbage; unusually low marks templated/looping text —
    both tails are what the filter trims.

    Plan shape: one term-keyed aggregation for corpus frequencies, the
    scalar totals (T, V) ride a broadcast, the per-term logprob joins
    back to the exploded tokens term-keyed, and the final mean is an
    id-keyed combinable aggregate. Per-term logprobs are rounded to 9 dp
    BEFORE averaging so engines with last-ulp-different ln agree.
    """
    toks = fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    cf = toks.groupBy("term").agg(F.count("*").alias("cf"))
    totals = cf.agg(
        F.sum("cf").alias("_T"), F.count("*").alias("_V")
    )
    lp = (
        cf.crossJoin(F.broadcast(totals))
        .select(
            "term",
            F.round(
                -F.log(
                    (F.col("cf") + F.lit(alpha))
                    / (F.col("_T") + F.lit(alpha) * F.col("_V"))
                ),
                9,
            ).alias("surprisal"),
        )
    )
    return (
        toks.join(lp, "term")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("surprisal"), 4).alias("mean_surprisal"),
        )
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_postings: int = 50,
) -> DataFrame:
    """MOSS-style overlap detection on winnowed fingerprints: document
    pairs sharing at least ``min_shared`` fingerprints, with the shared
    count and an overlap ratio (shared / smaller fingerprint set) — the
    plagiarism/boilerplate report built on ``winnow_fingerprints``'
    guarantee that any ``window + k - 1``-word run shared verbatim
    leaves at least one common fingerprint.

    Scale shape mirrors the inverted-index Jaccard join: postings
    group on the (uniform, md5-derived) fingerprint key, hot
    fingerprints (ubiquitous boilerplate) are capped at
    ``max_postings`` docs, and the pair aggregation shuffles on the
    (doc_a, doc_b) key — never an all-pairs product.
    """
    from streaming_demos_spark.catalog import bounded_persist

    # persisted + eager: fps feeds THREE subtrees (both sides of the
    # postings self-join below plus the per-doc fingerprint counts);
    # without the cache the winnow chain (tokenize + k-gram hash +
    # window-min — interpreted higher-order transforms) runs three
    # times per query
    fps = bounded_persist(
        winnow_fingerprints(docs, text_col, id_col, k, window), eager=True
    )
    sized = (
        fps.withColumn(
            "_pn", F.count("*").over(Window.partitionBy("fp"))
        )
        .filter(F.col("_pn") <= max_postings)
        .drop("_pn")
    )
    a = sized.select(F.col(id_col).alias("doc_a"), "fp")
    b = sized.select(F.col(id_col).alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    counts = fps.groupBy(id_col).agg(F.count("*").alias("n_fps"))
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_fps").alias("_na"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_fps").alias("_nb"))
    return (
        shared.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            # shared/min is a small-denominator RATIONAL — half-up e4
            # integer instead of a midpoint-prone rounded double
            F.expr(
                "(n_shared * 10000 * 2 + least(_na, _nb))"
                " div (2 * least(_na, _nb))"
            ).alias("overlap_ratio_e4"),
        )
    )


def bpe_pair_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 20,
) -> DataFrame:
    """The inner loop of BPE tokenizer fitting, distributed: count every
    adjacent symbol pair inside words across the corpus and return the
    ``top_n`` most frequent — the pair a BPE trainer would merge next.
    (Full training = iterate merge -> recount; each round is exactly
    this aggregation over the re-symbolized corpus, so the round's cost
    and plan shape is what matters at 100 TB.)

    Symbols here are characters (round 0 of training). Plan: per-word
    character bigrams are built map-side inside array expressions
    (distinct-word explode first — a word repeated a million times
    contributes via its count, not a million array builds), then ONE
    combinable shuffle on the pair; top-n is TakeOrderedAndProject.
    """
    words = (
        fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )
    m = F.length("w")
    pairs = words.select(
        F.col("n_w"),
        F.explode(
            F.when(
                m >= 2,
                F.transform(
                    F.sequence(F.lit(1), m - 1),
                    lambda i: F.concat(
                        F.col("w").substr(i, F.lit(1)),
                        F.lit(" "),
                        F.col("w").substr(i + 1, F.lit(1)),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n_w").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("pair"))
        .limit(top_n)
    )


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document mean bigram cross-entropy under a corpus-self-
    trained add-``alpha`` bigram LM — the step up from
    ``unigram_surprisal`` that catches *implausible sequences of common
    words* (shuffled text, boilerplate stitching) which unigram
    statistics cannot see: score(d) = mean over d's bigrams (a,b) of
    -ln((c(a,b) + α) / (c(a·) + α·V)), with c(a·) the token-initial
    count and V the unigram vocabulary.

    Plan shape: per-doc bigram instances come from one explode over the
    materialized token array; the bigram model is ONE (a,b)-keyed
    combinable aggregation (uniform md5-free keys — a Zipfian hot
    bigram is still one group); context counts reduce from the bigram
    table (smaller); scalars broadcast; scoring joins back bigram-keyed
    and reduces id-keyed. Everything combinable, nothing quadratic.
    Per-bigram logprobs round at 9 dp before averaging (cross-engine ln
    ulps).
    """
    toks = fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), tokens(text_col).alias("_w")
    )
    n = F.size("_w")
    big = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat(
                        F.element_at("_w", i), F.lit(" "), F.element_at("_w", i + 1)
                    ),
                ),
            ).otherwise(F.array())
        ).alias("bigram"),
    )
    c_ab = big.groupBy("bigram").agg(F.count("*").alias("c_ab"))
    c_a = c_ab.groupBy(
        F.split("bigram", " ").getItem(0).alias("_a")
    ).agg(F.sum("c_ab").alias("c_a"))
    vocab = docs.select(F.explode(tokens(text_col)).alias("t")).agg(
        F.count_distinct("t").alias("_V")
    )
    lp = (
        c_ab.withColumn("_a", F.split("bigram", " ").getItem(0))
        .join(c_a, "_a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.round(
                -F.log(
                    (F.col("c_ab") + F.lit(alpha))
                    / (F.col("c_a") + F.lit(alpha) * F.col("_V"))
                ),
                9,
            ).alias("nll"),
        )
    )
    return (
        big.join(lp, "bigram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("nll"), 4).alias("mean_bigram_nll"),
        )
    )


# --- BPE apply (frozen-tokenizer encode) -------------------------------------

# A frozen merge table for the demo encode path. In the production flow
# the list comes from iterating bpe_pair_stats (fit) and is then FROZEN
# into the tokenizer artifact — apply-time merges are always static
# literals, exactly like a shipped tokenizer.json. Includes a
# second-order merge ("ta"+"b") to exercise merged-symbol reuse.
BPE_DEMO_MERGES: list[tuple[str, str]] = [
    ("t", "a"),
    ("a", "r"),
    ("p", "ar"),
    ("ta", "b"),
    ("tab", "l"),
    ("l", "e"),
    ("v", "a"),
    ("h", "a"),
    ("s", "c"),
    ("r", "o"),
]


def bpe_encode_len(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Token count of ``word`` under a frozen BPE merge list.

    Encoding = space-separated symbol string (round 0: characters),
    then each merge ``(a, b) -> ab`` applied in rank order as a literal
    ``" a b " -> " ab "`` replace. A single left-to-right replace pass
    misses back-to-back occurrences (the shared delimiter space is
    consumed), so each merge is applied TWICE — after the first pass
    surviving occurrences are isolated, so the second pass completes
    them. Both passes are plain ``replace``; DuckDB's replace scans the
    same way, which is what makes the oracle bit-identical.

    All column arithmetic (regexp char-split + literal replaces +
    split/size) — no UDF, fully codegen.
    """
    s = F.concat(F.lit(" "), F.regexp_replace(word, "(.)", "$1 "))
    for a, b in merges:
        pat, rep = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
        s = F.replace(F.replace(s, pat, rep), pat, rep)
    return F.size(F.split(F.trim(s), " "))


def bpe_encode_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Per-document token counts under a frozen BPE tokenizer:
    ``(id, n_tokens_ws, n_tokens_bpe)`` — whitespace words vs BPE
    symbols after applying ``merges``.

    Scale shape mirrors ``bpe_pair_stats``: the encode runs once per
    DISTINCT word (vocabulary explode + groupBy — Zipf makes the
    vocabulary tiny next to the corpus), then joins back to documents
    by word and aggregates by doc id. The merge chain is literal
    replaces on the vocabulary frame only; the corpus-side work is one
    explode + two keyed shuffles (word join, doc-id sum), both
    map-side combinable.
    """
    merges = BPE_DEMO_MERGES if merges is None else merges
    doc_words = fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("w")
    )
    vocab = (
        doc_words.groupBy("w")
        .agg(F.count("*").alias("_n_w"))
        .withColumn("_sym", bpe_encode_len(F.col("w"), merges))
        .select("w", "_sym")
    )
    return (
        doc_words.join(vocab, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens_ws"),
            F.sum("_sym").alias("n_tokens_bpe"),
        )
    )


def sql_bpe_encode_stats(merges: list[tuple[str, str]] | None = None) -> str:
    """DuckDB replay of ``bpe_encode_stats`` with the same frozen merge
    list baked in as literal replace chains."""
    merges = BPE_DEMO_MERGES if merges is None else merges
    expr = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"
    for a, b in merges:
        pat, rep = f" {a} {b} ", f" {a}{b} "
        expr = f"replace(replace({expr}, '{pat}', '{rep}'), '{pat}', '{rep}')"
    return f"""
        WITH dw AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents
        ),
        vocab AS (
            SELECT w, len(string_split(trim({expr}), ' ')) AS _sym
            FROM (SELECT DISTINCT w FROM dw)
        )
        SELECT dw.doc_id,
               count(*) AS n_tokens_ws,
               sum(_sym)::BIGINT AS n_tokens_bpe
        FROM dw JOIN vocab USING (w)
        GROUP BY dw.doc_id
        ORDER BY dw.doc_id
    """


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Top collocations (adjacent word pairs) by pointwise mutual
    information: ``pmi = log2( P(w1,w2) / (P(w1) P(w2)) )`` with bigram
    probability over the bigram space and unigram probabilities over the
    token space. The standard corpus-analysis primitive for phrase
    mining / tokenizer-vocabulary seeding; no analog in the reference
    (its text surface stops at whole-field transforms).

    Plan shape at scale: tokenized corpus persisted across its three
    consumers (one regex pass), bigrams built map-side with
    ``zip_with(slice, slice)`` (no positional self-join), then two
    combinable shuffles (pair counts, word counts). Both totals come
    from ONE explode-free aggregate over token-array sizes
    (``n_big = Σ max(len-1, 0)``) — never a re-explode of the corpus.
    The word-count table is vocabulary-sized, so the two count joins
    are plain shuffle joins AQE may demote to broadcast; totals ride
    in as a 1-row broadcast aggregate. Output is ``min_count``-pruned
    then top-n via TakeOrderedAndProject on (rounded pmi desc, w1, w2).
    """
    from pyspark import StorageLevel

    tk = (
        fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col)
        .select(tokens(text_col).alias("tk"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uc = (
        tk.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("_cw"))
    )
    # totals without touching exploded rows: every doc yields len(tk)
    # unigrams and max(len-1, 0) bigrams
    totals = tk.agg(
        F.sum(F.size("tk")).cast("double").alias("_nu"),
        F.sum(F.greatest(F.size("tk") - 1, F.lit(0)))
        .cast("double")
        .alias("_nb"),
    )
    n = F.size("tk")
    big = tk.filter(n >= 2).select(
        F.explode(
            F.zip_with(
                F.slice("tk", 1, n - 1),
                F.slice("tk", 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    pmi = F.round(
        F.log2(
            (F.col("n_pair") / F.col("_nb"))
            / (
                (F.col("_c1") / F.col("_nu"))
                * (F.col("_c2") / F.col("_nu"))
            )
        ),
        4,
    )
    return (
        bc.filter(F.col("n_pair") >= min_count)
        .join(uc.select(F.col("w").alias("w1"), F.col("_cw").alias("_c1")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("_cw").alias("_c2")), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(top_n)
    )


def ppmi_cooccurrence(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Top word pairs by positive pointwise mutual information over a
    ``window``-token co-occurrence context — the count statistic behind
    count-based word embeddings (PPMI-SVD / GloVe-style preprocessing).
    Pairs are unordered (canonical lexicographic form); marginals are
    SLOT counts over the pair table (``Σ_a m(a) = 2T``), the symmetric
    PPMI convention.

    Plan shape: pair generation is entirely map-side — a nested
    ``transform`` over positions with a ``slice`` inner window (never a
    positional self-join), flattened and exploded into ONE combinable
    pair-count shuffle. Marginals and the total are derived from the
    pair-count table (vocabulary²-bounded, far smaller than the
    corpus), so the corpus is scanned exactly once. The two marginal
    joins are vocabulary-keyed; AQE may demote them to broadcast.
    """
    from pyspark import StorageLevel

    tk = fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col).select(
        tokens(text_col).alias("tk")
    )
    n = F.size("tk")
    pair = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.transform(
            F.slice("tk", i + 1, F.least(F.lit(window), n - i)),
            lambda y: F.struct(
                F.least(F.element_at("tk", i), y).alias("w1"),
                F.greatest(F.element_at("tk", i), y).alias("w2"),
            ),
        ),
    )
    pairs = tk.select(F.explode(F.flatten(pair)).alias("p")).select(
        "p.w1", "p.w2"
    )
    bc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    marg = (
        bc.select(F.col("w1").alias("w"), F.col("n_pair").alias("_c"))
        .unionByName(
            bc.select(F.col("w2").alias("w"), F.col("n_pair").alias("_c"))
        )
        .groupBy("w")
        .agg(F.sum("_c").alias("_m"))
    )
    total = bc.agg(F.sum("n_pair").cast("double").alias("_t"))
    ppmi = F.round(
        F.greatest(
            F.lit(0.0),
            F.log2(
                (F.col("n_pair") / F.col("_t"))
                / (
                    (F.col("_m1") / (2 * F.col("_t")))
                    * (F.col("_m2") / (2 * F.col("_t")))
                )
            ),
        ),
        4,
    )
    return (
        bc.filter(F.col("n_pair") >= min_count)
        .join(marg.select(F.col("w").alias("w1"), F.col("_m").alias("_m1")), "w1")
        .join(marg.select(F.col("w").alias("w2"), F.col("_m").alias("_m2")), "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "n_pair", ppmi.alias("ppmi"))
        .orderBy(F.desc("ppmi"), F.asc("w1"), F.asc("w2"))
        .limit(top_n)
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Per-document novelty in corpus order: the fraction of the doc's
    DISTINCT word ``k``-grams never seen in any lower-id document — the
    freshness curve a crawl/curation pipeline watches to decide when a
    source is mined out (novelty → dup-rate complement over time).

    Plan: one (shingle → min doc id) aggregation (the first-occurrence
    index, same shape as duplicate_spans' canonical map), joined back
    to the per-doc distinct shingle postings — a shingle is novel for
    exactly the doc that owns its minimum. Both shuffles are
    shingle-keyed and combinable; no doc ever compares against other
    docs directly.
    """
    from streaming_demos_spark.operators.text import (
        shingles_from_tokens,
        tokens,
    )

    sh = (
        fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), tokens(text_col).alias("_w"))
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(shingles_from_tokens("_w", k))
            ).alias("shingle"),
        )
    )
    first = sh.groupBy("shingle").agg(F.min(id_col).alias("_first"))
    return (
        sh.join(first, "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                (F.col("_first") == F.col(id_col)).cast("long")
            ).alias("n_novel"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel") / F.col("n_shingles"), round_dp
            ).alias("novelty"),
        )
    )


def distinctive_terms(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
    alpha: float = 0.01,
    min_count: int = 5,
    top_n: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Per-group distinctive vocabulary via weighted log-odds with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008): for
    each (group, term), the z-scored log-odds of the term in the group
    versus the REST of the corpus, with the corpus-wide distribution as
    the prior (``alpha · corpus_count``) so rare terms don't dominate.
    Returns each group's ``top_n`` terms by z — "what words make this
    source sound like itself", the corpus-comparison dual of PMI.

    One (group, term) count shuffle; corpus totals and priors derive
    from the count table (vocabulary-bounded), rest-counts by
    subtraction — the corpus is scanned once. The final rank window
    runs per group on the min_count-pruned vocabulary frame.
    """
    from pyspark import StorageLevel

    tok = (
        fan_out(docs.select(F.col(group_col), F.col(text_col)), group_col)
        .select(F.col(group_col), F.explode(tokens(text_col)).alias("term"))
    )
    gt = (
        tok.groupBy(group_col, "term")
        .agg(F.count("*").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    term_tot = gt.groupBy("term").agg(F.sum("_c").alias("_ct"))
    grp_tot = gt.groupBy(group_col).agg(F.sum("_c").alias("_cg"))
    corpus_tot = term_tot.agg(F.sum("_ct").alias("_n"))
    j = (
        gt.join(term_tot, "term")
        .join(F.broadcast(grp_tot), group_col)
        .crossJoin(F.broadcast(corpus_tot))
        .filter(F.col("_c") >= min_count)
    )
    a_w = F.lit(alpha) * F.col("_ct")
    a_0 = F.lit(alpha) * F.col("_n")
    y_g = F.col("_c") + a_w
    n_g = F.col("_cg") + a_0
    y_r = (F.col("_ct") - F.col("_c")) + a_w
    n_r = (F.col("_n") - F.col("_cg")) + a_0
    delta = F.log(y_g / (n_g - y_g)) - F.log(y_r / (n_r - y_r))
    var = 1.0 / y_g + 1.0 / y_r
    z = F.round(delta / F.sqrt(var), round_dp)
    w = Window.partitionBy(group_col).orderBy(F.desc("z"), F.asc("term"))
    return (
        j.select(group_col, "term", F.col("_c").alias("n_in_group"), z.alias("z"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_n)
        .drop("_rk")
    )


def normalize_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical text cleanup — the map-only normalization pass every
    training-data pipeline runs before hashing/dedup so that byte-level
    noise (control chars, zero-width marks, ragged whitespace) doesn't
    split otherwise-identical documents into distinct fingerprints.

    Three JVM regex passes, no UDF, no shuffle:
      1. strip control chars (C0 minus \\t\\n\\r, DEL) and zero-width
         code points (ZWSP/ZWNJ/ZWJ/BOM);
      2. collapse every whitespace run to one space;
      3. trim.

    Returns (id, norm_text, n_chars_raw, n_chars_norm, changed) — the
    changed flag feeds a cheap "how dirty is this source" rollup.
    """
    c = F.col(text_col)
    stripped = F.regexp_replace(
        c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\u200b\\u200c\\u200d\\ufeff]", ""
    )
    collapsed = F.trim(F.regexp_replace(stripped, "\\s+", " "))
    return df.select(
        F.col(id_col),
        collapsed.alias("norm_text"),
        F.length(c).alias("n_chars_raw"),
        F.length(collapsed).alias("n_chars_norm"),
        # coalesce: non-nullable flag (NULL text counts as unchanged);
        # keeps the driver's pandas bridge off the None-vs-NaN path.
        F.coalesce(c != collapsed, F.lit(False)).alias("changed"),
    )


def textrank_keywords(
    docs: DataFrame,
    text_col: str = "text",
    min_len: int = 3,
    iterations: int = 3,
    k: int = 20,
    round_dp: int = 8,
) -> DataFrame:
    """Corpus-level TextRank keyword extraction (Mihalcea & Tarau 2004):
    rank words by PageRank over the adjacency co-occurrence graph of the
    stopword-filtered token stream.

    Graph construction is wholly declarative: tokenize, drop stopwords
    and short tokens, pair each surviving word with its successor
    (window = 2 over the FILTERED sequence — the filter runs before
    pairing, so a stopword between two content words does not break
    their edge), count pairs as weights, mirror for the undirected
    random walk. Ranking reuses ``graph.pagerank`` — per-round join +
    aggregate, fixed iteration count so the DuckDB oracle can unroll the
    identical rounds.

    Scale: the edge list aggregates on (word, word') — vocabulary-
    squared bounded in principle, adjacency-observed in practice (far
    smaller); every PageRank round is one join + one combinable
    aggregate on the word key. Top-k is TakeOrderedAndProject.
    """
    from streaming_demos_spark.catalog import fan_out
    from streaming_demos_spark.operators.graph import pagerank

    kept = F.filter(
        tokens(text_col),
        lambda t: (~t.isin(STOPWORDS_EN)) & (F.length(t) >= min_len),
    )
    pair = F.transform(
        F.slice("_w", 1, F.greatest(F.lit(0), F.size("_w") - 1)),
        lambda x, i: F.struct(
            x.alias("src"), F.element_at("_w", i + 2).alias("dst")
        ),
    )
    edges = (
        fan_out(docs.select(text_col), text_col)
        .select(kept.alias("_w"))
        .select(F.explode(pair).alias("p"))
        .select("p.src", "p.dst")
    )
    undirected = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    weighted = undirected.groupBy("src", "dst").agg(
        F.count("*").cast("double").alias("w")
    )
    ranks = pagerank(
        weighted, "src", "dst", "w", iterations=iterations
    )
    return (
        ranks.select(
            F.col("node").alias("term"),
            F.round("rank", round_dp).alias("rank"),
        )
        .orderBy(F.desc("rank"), "term")
        .limit(k)
    )


def readability_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 4,
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document from
    the classic vowel-group syllable proxy (each maximal ``[aeiouy]+``
    run ≈ one syllable — the standard cheap approximation when no
    pronunciation dictionary is in the loop).

    Three regex counts per document, all JVM column expressions inside
    one projection (no UDF, no explode):

        flesch = 206.835 - 1.015·(words/sentences) - 84.6·(syll/words)
        fk     = 0.39·(words/sentences) + 11.8·(syll/words) - 15.59

    Sentences are ``[.!?]+`` runs clamped to >= 1 so headline-style
    fragments score as one sentence instead of dividing by zero.
    """
    t = F.col(text_col)
    words = F.size(F.split(F.trim(t), r"\s+"))
    sentences = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0)))
    )
    syllables = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(r"[aeiouy]+"), F.lit(0))
    )
    wps = words.cast("double") / sentences
    spw = syllables.cast("double") / words
    return docs.select(
        F.col(id_col),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
            round_dp,
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
            round_dp,
        ).alias("fk_grade"),
    )


def compression_ratio(
    docs: DataFrame,
    by_col: str = "source",
    text_col: str = "text",
    round_dp: int = 4,
) -> DataFrame:
    """Tokenizer-economy profile per corpus slice: characters per
    whitespace token and per BPE-ish regex token — the cheap proxy for
    "how many model tokens does a byte of this source cost", which
    drives mix budgeting before a real tokenizer enters the loop.

    Three integer counts per document inside one map-only projection
    (length, whitespace splits, regex token count), then one exact
    integer aggregation per slice.
    """
    t = F.col(text_col)
    per = docs.select(
        F.col(by_col),
        F.length(t).alias("_chars"),
        F.size(F.split(F.lower(F.trim(t)), r"\s+")).alias("_ws"),
        F.size(
            F.regexp_extract_all(
                F.lower(t), F.lit(r"([a-z]+|[0-9]+|[^a-z0-9\s])"), F.lit(1)
            )
        ).alias("_bpe"),
    )
    agg = per.groupBy(by_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("_chars").alias("total_chars"),
        F.sum("_ws").alias("total_ws_tokens"),
        F.sum("_bpe").alias("total_bpe_tokens"),
    )
    return agg.select(
        by_col,
        "n_docs",
        "total_chars",
        "total_ws_tokens",
        "total_bpe_tokens",
        F.round(
            F.coalesce(
                F.try_divide(
                    F.col("total_chars").cast("double"),
                    F.col("total_ws_tokens"),
                ),
                F.lit(0.0),
            ),
            round_dp,
        ).alias("chars_per_ws_token"),
        F.round(
            F.coalesce(
                F.try_divide(
                    F.col("total_chars").cast("double"),
                    F.col("total_bpe_tokens"),
                ),
                F.lit(0.0),
            ),
            round_dp,
        ).alias("chars_per_bpe_token"),
    )


def charclass_profile(
    docs: DataFrame,
    by_col: str = "source",
    text_col: str = "text",
    round_dp: int = 4,
) -> DataFrame:
    """Character-class composition per corpus slice: alpha / digit /
    whitespace / other ratios — the cheap script-and-noise monitor
    that catches a binary-garbage or wrong-script crawl before
    tokenization does.

    Four regexp_replace length-counts per document in one map-only
    projection, aggregated as exact integers per slice.
    """
    t = F.lower(F.col(text_col))

    def n_of(pattern: str) -> Column:
        return F.length(F.regexp_replace(t, pattern, ""))

    total = F.length(t)
    per = docs.select(
        F.col(by_col),
        total.alias("_chars"),
        (total - n_of(r"[a-z]")).alias("_alpha"),
        (total - n_of(r"[0-9]")).alias("_digit"),
        (total - n_of(r"\s")).alias("_space"),
    )
    agg = per.groupBy(by_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("_chars").alias("total_chars"),
        F.sum("_alpha").alias("_a"),
        F.sum("_digit").alias("_d"),
        F.sum("_space").alias("_s"),
    )
    tc = F.col("total_chars").cast("double")

    def ratio(c: Column) -> Column:
        return F.round(
            F.coalesce(F.try_divide(c, tc), F.lit(0.0)), round_dp
        )

    return agg.select(
        by_col,
        "n_docs",
        "total_chars",
        ratio(F.col("_a")).alias("alpha_ratio"),
        ratio(F.col("_d")).alias("digit_ratio"),
        ratio(F.col("_s")).alias("space_ratio"),
        ratio(
            F.col("total_chars") - F.col("_a") - F.col("_d") - F.col("_s")
        ).alias("other_ratio"),
    )


def oov_rate(
    docs: DataFrame,
    by_col: str = "source",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Out-of-vocabulary rate per corpus slice: the fraction of a
    slice's token OCCURRENCES whose type appears in NO other slice —
    the lexical-overlap signal behind "will a tokenizer/LM trained on
    the rest transfer to this source".

    One (slice, token) occurrence aggregation; per-token slice counts
    are re-aggregated FROM that grid and joined back on the token key
    (a token of slice s is OOV iff exactly one slice — s itself —
    contains it). Output: (slice, total_tokens, oov_tokens, oov_rate).
    """
    toks = docs.select(
        F.col(by_col).alias("_src"),
        F.explode(tokens(text_col)).alias("_t"),
    )
    grid = toks.groupBy("_src", "_t").agg(F.count("*").alias("_occ"))
    spread = grid.groupBy("_t").agg(
        F.count("*").alias("_n_src")
    )
    j = grid.join(spread, "_t")
    agg = j.groupBy(F.col("_src").alias(by_col)).agg(
        F.sum("_occ").alias("total_tokens"),
        F.sum(
            F.when(F.col("_n_src") == 1, F.col("_occ")).otherwise(F.lit(0))
        ).alias("oov_tokens"),
    )
    return agg.select(
        by_col,
        "total_tokens",
        "oov_tokens",
        F.round(
            F.coalesce(
                F.try_divide(
                    F.col("oov_tokens").cast("double"),
                    F.col("total_tokens"),
                ),
                F.lit(0.0),
            ),
            round_dp,
        ).alias("oov_rate"),
    )


def tokenizer_fertility(
    docs: DataFrame,
    by_col: str = "lang",
    text_col: str = "text",
    bpe_chunk: int = 4,
) -> DataFrame:
    """Tokenizer-fertility profile per corpus slice: how many
    sub-word tokens a tokenizer spends per whitespace word and per 100
    characters — the per-language cost model behind token-budget
    mixture planning (a high-fertility language eats budget faster
    than its byte share suggests).

    The sub-word proxy is the ``ceil(len(word)/bpe_chunk)`` chunk
    count (a BPE with a ~``bpe_chunk``-char average piece), computed
    JVM-side from the token-length array — no explode, no Python. All
    outputs are exact integers: totals plus half-up scaled ratios
    (pieces per word ·1e3, pieces per 100 chars ·1e3) via sign-free
    integer division. One map-only projection + one hash aggregation.
    """
    toks = _sql_tokens(text_col)
    base = docs.select(
        F.col(by_col).alias("slice"),
        F.expr(f"cast(size({toks}) as bigint) AS _w"),
        F.expr(f"cast(length({q(text_col)}) as bigint) AS _c"),
        F.expr(
            f"aggregate(transform({toks}, w -> cast(length(w) + {bpe_chunk - 1}"
            f" as bigint) / {bpe_chunk}), cast(0 as bigint),"
            " (acc, x) -> acc + cast(floor(x) as bigint)) AS _p"
        ),
    )
    agg = base.groupBy("slice").agg(
        F.count("*").alias("n_docs"),
        F.sum("_w").alias("n_words"),
        F.sum("_c").alias("n_chars"),
        F.sum("_p").alias("n_pieces"),
    )
    return agg.select(
        "slice",
        "n_docs",
        "n_words",
        "n_chars",
        "n_pieces",
        # DECIMAL(38,0) intermediates: n_pieces*2e5 would overflow
        # BIGINT at ~4.6e13 pieces (a few 10s of TB of text); the
        # decimal product holds to 1e38 and the per-word/char ratios
        # cast back to BIGINT exactly.
        F.expr(
            "cast((cast(n_pieces as decimal(38,0)) * 1000 * 2 + n_words)"
            " div (2 * n_words) as bigint)"
        ).alias("pieces_per_word_e3"),
        F.expr(
            "cast((cast(n_pieces as decimal(38,0)) * 100000 * 2 + n_chars)"
            " div (2 * n_chars) as bigint)"
        ).alias("pieces_per_100chars_e3"),
    )


def kneser_ney_bigram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Kneser–Ney-smoothed bigram probabilities (absolute discount
    d = 0.75) for the corpus's top bigrams — the production-grade
    n-gram LM smoothing (KN beats add-α because the backoff weight is
    the CONTINUATION count "how many contexts does w2 follow?", not the
    raw frequency — 'francisco' is frequent but only ever follows
    'san').

        P_KN(b|a) = max(c(ab) − d, 0)/c(a·)
                    + d·N1+(a·)/c(a·) · N1+(·b)/|bigrams|

    With d = 3/4 every term is a ratio of integers scaled by 4, so the
    whole probability is computed as EXACT integer arithmetic at e9
    scale (two floor divisions + a sum — identical in any engine; no
    float is ever rounded). DECIMAL(38,0) guards the triple products.

    Plan: one bigram-keyed count (hash, combinable); context and
    continuation counts reduce from the BIGRAM table (vocab-scaled, not
    row-scaled); the |bigrams| scalar broadcasts; TakeOrdered top-k.
    """
    toks = fan_out(
        docs.select(F.col(id_col), F.col(text_col)), id_col
    ).select(F.col(id_col), tokens(text_col).alias("_w"))
    n = F.size("_w")
    big = toks.select(
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat(
                        F.element_at("_w", i),
                        F.lit(" "),
                        F.element_at("_w", i + 1),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("bigram")
    )
    c_ab = big.groupBy("bigram").agg(F.count("*").alias("c_ab"))
    # the bigram-type table feeds FOUR consumers (context counts,
    # continuation counts, the |bigrams| scalar, the scored join) —
    # persist it so the token explode + bigram shuffle run once
    from streaming_demos_spark.catalog import bounded_persist

    typed = bounded_persist(
        c_ab.select(
            "bigram",
            "c_ab",
            F.split("bigram", " ").getItem(0).alias("_a"),
            F.split("bigram", " ").getItem(1).alias("_b"),
        )
    )
    ctx = typed.groupBy("_a").agg(
        F.sum("c_ab").alias("c_a"),
        F.count("*").alias("n1p_fwd"),  # N1+(a.) distinct continuations
    )
    cont = typed.groupBy("_b").agg(
        F.count("*").alias("n1p_cont"),  # N1+(.b) distinct left contexts
    )
    scal = typed.agg(F.count("*").alias("_D"))  # |distinct bigrams|
    scored = (
        typed.join(ctx, "_a")
        .join(cont, "_b")
        .join(F.broadcast(scal))
        .select(
            "bigram",
            "c_ab",
            "c_a",
            "n1p_fwd",
            "n1p_cont",
            # max(c_ab - 3/4, 0)/c_a at e9: (4c_ab - 3)*1e9 div (4*c_a)
            F.expr(
                "cast((greatest(4 * cast(c_ab as decimal(38,0)) - 3, 0)"
                " * 1000000000) div (4 * cast(c_a as decimal(38,0)))"
                " as bigint)"
            ).alias("disc_e9"),
            # (3/4)*(n1p_fwd/c_a)*(n1p_cont/D) at e9
            F.expr(
                "cast((3 * cast(n1p_fwd as decimal(38,0)) * n1p_cont"
                " * 1000000000) div (4 * cast(c_a as decimal(38,0)) * _D)"
                " as bigint)"
            ).alias("backoff_e9"),
        )
    )
    return (
        scored.withColumn(
            "p_kn_e9", F.col("disc_e9") + F.col("backoff_e9")
        )
        .select("bigram", "c_ab", "c_a", "p_kn_e9")
        .orderBy(F.desc("c_ab"), "bigram")
        .limit(top_k)
    )


def heavy_changes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Heavy CHANGERS between two corpus slices (here: even/odd doc
    ids; in production: yesterday/today, shard A/B): terms whose
    RELATIVE frequency moved most — the drift detector behind "did the
    crawl's vocabulary shift?" that absolute counts can't answer when
    slice sizes differ.

    |Δ| = |c₁/T₁ − c₂/T₂| is ranked as the exact half-up integer
    ``abs_delta_e9 = (|c₁·T₂ − c₂·T₁|·1e9*2 + T₁T₂) div (2·T₁·T₂)``
    (DECIMAL(38,0) cross-products — c·T wraps BIGINT at web scale),
    with the direction as a separate sign column, so ordering is
    identical in every engine and no float is rounded.

    Plan: one term-keyed count per slice computed in a SINGLE pass
    (conditional sums on the slice flag — no second scan, no join of
    two aggregates); slice totals broadcast; TakeOrdered top-k.
    """
    term_slice = (
        fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col)
        .select(
            (F.col(id_col) % 2 == 0).alias("_first"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .groupBy("term")
        .agg(
            F.sum(F.col("_first").cast("long")).alias("c_first"),
            F.sum((~F.col("_first")).cast("long")).alias("c_second"),
        )
        .filter(F.col("c_first") + F.col("c_second") >= min_count)
    )
    tot = term_slice.agg(
        F.sum("c_first").alias("_t1"),
        F.sum("c_second").alias("_t2"),
    )
    scored = term_slice.join(F.broadcast(tot)).select(
        "term",
        "c_first",
        "c_second",
        F.when(
            F.expr("c_first * cast(_t2 as decimal(38,0))")
            < F.expr("c_second * cast(_t1 as decimal(38,0))"),
            F.lit(-1),
        )
        .otherwise(F.lit(1))
        .cast("int")
        .alias("direction"),
        F.expr(
            "cast((abs(c_first * cast(_t2 as decimal(38,0))"
            " - c_second * cast(_t1 as decimal(38,0))) * 1000000000 * 2"
            " + cast(_t1 as decimal(38,0)) * _t2)"
            " div (2 * cast(_t1 as decimal(38,0)) * _t2) as bigint)"
        ).alias("abs_delta_e9"),
    )
    return scored.orderBy(F.desc("abs_delta_e9"), "term").limit(top_k)


def vocab_growth(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_points: int = 10,
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct-vocabulary size vs
    cumulative token count at ``n_points`` corpus prefixes — the
    dedup/quality readout for "is this crawl still contributing new
    language, or recycling?" (a healthy corpus grows ~n^β, β≈0.5; a
    templated one flattens).

    Prefixes are VALUE thresholds on the id column — threshold_i =
    (max_id·i) div n_points — so no global sort or row-number window
    exists anywhere. Flat one-pass shape (round 9 — the prior form
    re-aggregated the term projection once per prefix, the fattest
    plan in the repo at 43 exchanges): each term's first document
    maps to the FIRST prefix that contains it (bucket = max(1,
    ceil(n_points·first/max_id)) — exact integer inverse of the
    threshold filter, since floor(mx·i/n) >= f  <=>  mx·i >= n·f),
    per-doc token counts come map-side from ``size(tokens)`` (no
    second explode shuffle), and both collapse to <= ``n_points``
    rows that a broadcast prefix>=bucket join turns into cumulative
    curves. One big combinable shuffle total (min-id per term); all
    outputs exact integers.

    Invariant: ids are assumed non-negative (true of every corpus this
    repo reads). The bucket inverse is exact only for f >= 0; an
    all-negative id space had no defined threshold semantics in the
    per-prefix-filter form either (integer div vs floor already
    diverged across engines there).
    """
    mx = docs.agg(F.max(F.col(id_col)).alias("_mx"))
    # greatest(_mx, 1): a single-doc corpus (max id 0) must not divide
    # by zero; every first/id is 0 there and lands in bucket 1 anyway.
    bucket_of = lambda col: F.greatest(  # noqa: E731 - local expr alias
        F.lit(1),
        F.expr(f"cast(({n_points} * {col} + greatest(_mx, 1) - 1)"
               " div greatest(_mx, 1) as int)"),
    )
    toks = fan_out(
        docs.select(F.col(id_col), F.col(text_col)), id_col
    ).select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_t"))
    first_per_bucket = (
        toks.groupBy("_t").agg(F.min("_id").alias("_first"))
        .join(F.broadcast(mx))
        .groupBy(bucket_of("_first").alias("_b"))
        .agg(F.count("*").alias("_nv"))
    )
    tokens_per_bucket = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.coalesce(F.size(tokens(text_col)), F.lit(0)).alias("_n"),
        )
        .join(F.broadcast(mx))
        .groupBy(bucket_of("_id").alias("_b"))
        .agg(F.sum("_n").alias("_nt"))
    )
    prefixes = mx.select(
        F.explode(F.sequence(F.lit(1), F.lit(n_points))).alias("prefix")
    )
    # One cumulative device for both curves: full-outer-merge the two
    # <=n_points-row bucket frames, then a single broadcast
    # prefix>=bucket join + groupBy rolls them up together.
    per_bucket = tokens_per_bucket.join(first_per_bucket, "_b", "full")
    return (
        prefixes.join(
            F.broadcast(per_bucket), F.col("_b") <= F.col("prefix"), "left"
        )
        .groupBy("prefix")
        .agg(
            F.coalesce(F.sum("_nt"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.sum("_nv"), F.lit(0)).cast("long").alias("vocab"),
        )
        .select(F.col("prefix").cast("int").alias("prefix"),
                "n_tokens", "vocab")
        .orderBy("prefix")
    )
