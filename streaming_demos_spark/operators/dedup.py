"""Deduplication operators for LLM training-data pipelines.

Four dedup families over the ``documents`` table, all designed for the
banded/bucketed scale path — candidate pairs come from equality joins
on band/bucket keys, NEVER an all-pairs crossJoin:

- exact:       hash-groupBy on md5(text) (or normalized text)
- MinHash-LSH: word-shingles -> minhash signature -> banded bucket-join
               -> exact n-gram Jaccard verification of candidates
- SimHash:     per-word hash bits -> majority-vote fingerprint; near-dup
               candidates share fingerprint prefixes (bucketable)
- n-gram Jaccard: the exact verifier, also exposed standalone

Determinism: every hash is md5 (identical across Spark and DuckDB), and
minhash takes the LEXICOGRAPHIC min of md5 hex strings — a uniform
"random permutation" both engines order identically, so the oracle can
re-run the whole algorithm in SQL and hash-match.

At 100 TB: shingling/minhashing is per-row map work; the only shuffle
is the groupBy on (band_id, band_hash) whose fan-in is bounded by band
bucket sizes (heavily-skewed buckets indicate boilerplate docs — cap
bucket size before pairing, standard practice).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streaming_demos_spark.catalog import bounded_persist, fan_out
from streaming_demos_spark.operators.text import (
    normalize_text,
    shingles_from_tokens,
    tokens,
)


def _shingled(docs: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, shingles) with tokens materialized in a prior projection —
    the two-phase shape that keeps the shingle transform from
    re-evaluating the tokenizer per element (10x at sf0.1). fan_out
    un-serializes the tokenize+shingle map work when the scan is
    row-group-bound to one task."""
    return (
        fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), tokens(text_col).alias("_w"))
        .select(
            F.col(id_col), shingles_from_tokens("_w", k).alias("shingles")
        )
    )


def _distinct_shingled(
    docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, _ds, _n): distinct shingle array + size, computed ONCE and
    persisted (MEMORY_AND_DISK) so the band builder and both sides of
    the exact-Jaccard verify read one materialization instead of
    re-scanning + re-shingling the corpus per plan subtree (Catalyst
    does not share common subtrees across joins — the round-6 layout
    paid up to three shingle passes per near-dup query, the measured
    2-3x bench regression on the dedup family).

    Correctness is unchanged: minhash over ``_ds`` equals minhash over
    the raw shingle multiset (min is duplicate-blind), and the verify
    already used distinct semantics.

    Scale note: the cached projection is the distinct-shingle corpus —
    at ingest-scale runs the band index is pre-materialized in a store
    (see ``incremental_near_dup``) and this cache covers only the
    working partition of a query; the ring in
    ``catalog.bounded_persist`` bounds how many such caches a long
    sweep session can pin."""
    ds = _shingled(docs, text_col, id_col, k).select(
        F.col(id_col), F.array_distinct("shingles").alias("_ds")
    ).select(F.col(id_col), "_ds", F.size("_ds").alias("_n"))
    # eager: every caller fans this frame into >= 2 concurrently
    # submitted subtrees (bands + verify sides; the eval harness adds
    # the postings side), and AQE's concurrent stage submission made
    # each racer recompute the shingle projection before the cache
    # filled — the profiled 2x duplicate heavy stage in cluster_split
    return bounded_persist(ds, eager=True)

# --- exact dedup -------------------------------------------------------------


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalized: bool = False
) -> DataFrame:
    """Exact duplicate groups: md5-hash groupBy keeping the minimum id
    as the canonical representative. One shuffle on the 128-bit hash —
    uniformly distributed, skew-free at any scale."""
    t = normalize_text(text_col) if normalized else F.col(text_col)
    return (
        docs.select(F.md5(t).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per exact text: join back to the canonical ids.
    (dropDuplicates is equivalent but keeps an arbitrary row; min-id is
    deterministic and therefore testable.)"""
    keep = exact_dedup_groups(docs, text_col, id_col).select(
        F.col("keep_doc_id").alias(id_col)
    )
    return docs.join(keep, on=id_col, how="left_semi")


def streaming_exact_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming exact dedup: emit the FIRST arrival per key, suppress
    re-deliveries that arrive within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — per-key state is dropped once
    the watermark passes its expiry, so state is bounded by the horizon
    times the key arrival rate, not by history).

    This is the streaming face of ``exact_dedup``: dedup an infinite
    feed (e.g. at-least-once Kafka re-deliveries, S4/T12) where the
    batch min-id rule is unavailable because history is unbounded.
    Works on batch frames too (plain dropDuplicates semantics) so the
    same code is oracle-testable."""
    if stream.isStreaming:
        return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return stream.dropDuplicates(keys)


def incremental_dedup(
    new_docs: DataFrame,
    base_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup of a NEW batch against an existing
    corpus — the crawl-refresh shape: the base corpus is already
    deduplicated and only the delta needs checking.

    Two gates, both linear in the delta:
    1. intra-batch: min-id per hash within the new batch itself;
    2. cross-corpus: left_anti against the base's hash set — an
       equality join on the uniformly-distributed md5, so at 100 TB the
       base side streams from its own (bucketed-by-hash) store and the
       delta shuffles only its own rows. Nothing rescans base text.

    Output: surviving new rows (id, text_hash) — the rows safe to
    append to the corpus.
    """
    new_hashed = new_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_hash")
    )
    intra = (
        new_hashed.groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    base_hashes = base_docs.select(F.md5(F.col(text_col)).alias("text_hash"))
    return (
        intra.join(base_hashes, "text_hash", "left_anti")
        .select(id_col, "text_hash")
        .orderBy(id_col)
    )


# --- MinHash signatures + LSH banding ---------------------------------------


def minhash_signature(
    shingles: Column | str, num_hashes: int = 12
) -> list[Column]:
    """MinHash signature as ``num_hashes`` columns over an ALREADY
    MATERIALIZED shingle-array column: for hash-family member h, min
    over shingles of md5("h|" + shingle), compared lexicographically.
    md5 is shared with DuckDB so oracles replay it.

    Taking a column reference (not the text) matters for throughput:
    inlining the tokenize+shingle expression tree into all
    ``num_hashes`` columns blows the generated projection past the JVM
    method-size limit, and whole-stage codegen silently falls back to
    interpreted evaluation (~6x slower end-to-end, measured at sf0.1).
    A prior projection computes the array once; each hash column is a
    small expression over the attribute."""
    sh = F.col(shingles) if isinstance(shingles, str) else shingles

    # Factory keeps each lambda single-parameter (a 2-param lambda is
    # the (element, index) form to pyspark) and evaluates the seed
    # prefix eagerly.
    def _seeded_md5(h: int):
        prefix = f"{h}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    return [
        F.array_min(F.transform(sh, _seeded_md5(h))).alias(f"mh_{h}")
        for h in range(num_hashes)
    ]


def _minhash_sig_from(
    frame: DataFrame, id_col: str, array_col: str, num_hashes: int
) -> DataFrame:
    """(id, mh_0..mh_{n-1}) signature frame via explode + grouped min —
    value-identical to ``select(id, *minhash_signature(array_col))`` but
    whole-stage-codegen'd end to end.

    ``array_min(transform(...))`` evaluates through ``ArrayTransform``/
    ``ArrayMin``, and higher-order functions NEVER compile to codegen:
    the md5-per-shingle-per-lane work (12 lanes here) runs interpreted —
    measured as the dominant CPU of the whole dedup family at sf0.1
    (~230s CPU in one stage of llm_minhash_lsh_eval standalone). Explode
    to (id, shingle) rows and take 12 ``min(md5(concat(seed, s)))``
    aggregates instead: scalar expressions + hash aggregate, all
    codegen. Same hash values, and min over a string column uses the
    same binary ordering as ``array_min`` on strings, so signatures are
    bit-identical.

    ``explode_outer`` (not ``explode``) keeps null/empty-array docs in
    the frame with all-null signatures — exactly what the transform form
    produced for them — so degenerate inputs band identically too.

    Scale shape: the partial (map-side) aggregate collapses the exploded
    rows back to one per doc before the exchange, so the shuffle carries
    ~n_docs rows of 12 hex strings, not the shingle multiset; when the
    caller already hash-partitioned by ``id_col`` (``fan_out``) the
    groupBy reuses that partitioning outright."""
    ex = frame.select(
        F.col(id_col), F.explode_outer(F.col(array_col)).alias("_mh_s")
    )
    # one F.expr parse per lane instead of ~6 Column-op py4j round
    # trips each (see the construction-cost note in functions/sqlfrag.py)
    return ex.groupBy(id_col).agg(
        *[
            F.expr(f"min(md5(concat('{h}|', _mh_s))) AS mh_{h}")
            for h in range(num_hashes)
        ]
    )


def minhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_rows: int = 3,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band_id, band_hash) rows: the signature cut into
    ``num_hashes/band_rows`` bands, each band hashed to one bucket key.
    Two documents are candidates iff they share a (band_id, band_hash).
    """
    sh = _shingled(docs, text_col, id_col, shingle_k)
    sig = _minhash_sig_from(sh, id_col, "shingles", num_hashes)
    return _bands_from_sig(sig, id_col, num_hashes, band_rows)


def _bands_from_sig(
    sig: DataFrame, id_col: str, num_hashes: int, band_rows: int
) -> DataFrame:
    """Cut an (id, mh_0..mh_{n-1}) signature frame into
    (id, band_id, band_hash) rows — shared by the one-pass public
    ``minhash_bands`` and the cached-shingle near-dup paths."""
    n_bands = num_hashes // band_rows
    # single-parse form of the banded struct array (construction-cost
    # note in functions/sqlfrag.py)
    structs = ", ".join(
        "struct({b} AS band_id, md5(concat_ws('|', {cols})) AS band_hash)".format(
            b=b,
            cols=", ".join(
                f"mh_{b * band_rows + r}" for r in range(band_rows)
            ),
        )
        for b in range(n_bands)
    )
    return sig.select(
        id_col, F.expr(f"explode(array({structs}))").alias("band")
    ).select(id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))


def jaccard_shingles(a: Column, b: Column) -> Column:
    """Exact Jaccard over two shingle arrays (distinct semantics):
    |A ∩ B| / |A ∪ B|."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return inter / union


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_rows: int = 3,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 50,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidate generation then exact
    n-gram-Jaccard verification.

    Plan shape (the 100 TB path):
      1. map: shingle + distinct ONCE per doc into a persisted
         projection (``_distinct_shingled``) that feeds both the
         signature/bands and the verify sides — one corpus pass, not
         three,
      2. shuffle 1: groupBy (band_id, band_hash) — bucket join produces
         candidate pairs only within buckets; buckets over
         ``max_bucket`` docs are dropped (boilerplate guard, keeps the
         pair blow-up bounded),
      3. map: exact Jaccard on the candidate pairs, threshold filter.
    No crossJoin anywhere; candidate count ≈ Σ bucket²  ≤ buckets·cap².
    """
    ds = _distinct_shingled(docs, text_col, id_col, shingle_k)
    return _near_dup_pairs_from_ds(
        ds, id_col, num_hashes, band_rows, threshold, max_bucket
    )


def _near_dup_pairs_from_ds(
    ds: DataFrame,
    id_col: str,
    num_hashes: int,
    band_rows: int,
    threshold: float,
    max_bucket: int,
) -> DataFrame:
    """``minhash_near_dup_pairs`` body over a prepared (id, _ds, _n)
    distinct-shingle frame — split out so harnesses that need BOTH the
    LSH pairs and another shingle consumer (``minhash_lsh_eval``) feed
    every side from one persisted projection."""
    # The signature frame has exactly ONE consumer since the
    # within-bucket pairing moved from a bucket self-join to
    # collect_list + double explode (below): bands -> window -> groupBy
    # is a single linear subtree, so the explode + 12-lane min(md5)
    # aggregate already runs exactly once per query. The eager persist
    # this frame used to carry (from the self-join era, when both join
    # sides re-evaluated it) had become pure overhead — one extra
    # driver action + a cache write per query, ~0.9s of the
    # cluster-family keys' wall at bench scale (guide §5: persist only
    # when reused).
    sig = _minhash_sig_from(ds, id_col, "_ds", num_hashes)
    bands = _bands_from_sig(sig, id_col, num_hashes, band_rows)
    # Bound bucket size: count per bucket via the (spillable) window,
    # drop oversize (noise guard, unchanged) and singleton buckets
    # (pairless by construction — pure pruning).
    sized = bands.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band_id", "band_hash"))
    ).filter((F.col("bucket_n") >= 2) & (F.col("bucket_n") <= max_bucket))
    # Within-bucket pairs via collect_list + double explode, NOT a
    # bucket self-join: the join form evaluated the whole
    # signature/band subtree on BOTH sides (Catalyst shares no
    # subtrees, and AQE runtime stage reuse did not fire — profiled as
    # two identical heavy band stages per query). Collecting on the
    # already-capped frame keeps memory bounded (the window is the
    # spillable size guard, so no aggregate ever buffers an uncapped
    # hot bucket; arrays are <= max_bucket ids) and adds NO exchange —
    # the groupBy reuses the window's (band_id, band_hash)
    # partitioning. Pair set is identical: per bucket the ids are
    # distinct (one row per (id, band_id)), band_hash is never null
    # (concat_ws skips null lanes), so groupBy groups == join-equality
    # classes and {(a,b): a<b} from S x S is the same unordered-pair
    # set either way.
    grouped = sized.groupBy("band_id", "band_hash").agg(
        F.collect_list(F.col(id_col)).alias("_ids")
    )
    cand = (
        grouped.select(F.explode("_ids").alias("doc_a"), "_ids")
        .select("doc_a", F.explode("_ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    from fractions import Fraction

    frac = Fraction(str(threshold))
    # the verify sides read the SAME persisted distinct-shingle
    # projection the bands were built from — no second corpus pass
    a = ds.select(
        F.col(id_col).alias("doc_a"),
        F.col("_ds").alias("sh_a"),
        F.col("_n").alias("_na"),
    )
    b = ds.select(
        F.col(id_col).alias("doc_b"),
        F.col("_ds").alias("sh_b"),
        F.col("_n").alias("_nb"),
    )
    # Exact threshold i·q >= p·u rewritten single-intersect as
    # i·(p+q) >= p·(na+nb): Catalyst substitutes aliased expressions
    # into every reference, so the intersect must appear ONCE in the
    # filter that scans every candidate; the output projection then
    # recomputes it only on the (few) survivors. ab > 0 excludes the
    # both-empty pair (the only way union could be 0). A rounded-double
    # compare would flip on midpoints (unions of form 2^a·5^b) across
    # engine builds.
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    ab = F.col("_na") + F.col("_nb")
    return (
        cand.join(a, on="doc_a")
        .join(b, on="doc_b")
        .filter(
            (ab > 0)
            & (
                inter * F.lit(frac.numerator + frac.denominator)
                >= F.lit(frac.numerator) * ab
            )
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "(size(array_intersect(sh_a, sh_b)) * 10000 * 2"
                " + (_na + _nb - size(array_intersect(sh_a, sh_b))))"
                " div (2 * (_na + _nb"
                " - size(array_intersect(sh_a, sh_b))))"
            ).alias("jaccard_e4"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 50,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via an inverted shingle
    index — no hashing approximation, no all-pairs crossJoin, and no
    per-pair array materialization.

    Each document's distinct shingle set is exploded into (shingle, id,
    |set|) postings; a self-equality-join on the shingle followed by a
    per-pair count computes the EXACT intersection size ``I`` (every
    common shingle contributes exactly one joined row), from which
    ``J = I / (n_a + n_b - I)`` directly — the shingle arrays are never
    shipped to a verification join.

    Plan shape (the 100 TB path):
      1. map: shingle, distinct, explode to postings (no shuffle),
      2. shuffle 1: equality join on the shingle, pruned by the length
         filter ``t*max(|A|,|B|) <= min(|A|,|B|)`` and a hot-shingle
         bucket cap (boilerplate guard; the only approximation, and
         only for shingles shared by > max_bucket documents),
      3. shuffle 2: per-pair count -> exact intersection size -> exact
         Jaccard. Rows are 3 integers wide; both shuffles are narrow.

    Complements MinHash-LSH: recall is exact (a qualifying pair shares
    >= 1 shingle, so the join cannot miss it) at the cost of an index
    over ALL shingles rather than LSH bands — this is the
    high-threshold workhorse; MinHash is the low-threshold scout."""
    ds = _shingled(docs, text_col, id_col, shingle_k).select(
        F.col(id_col), F.array_distinct(F.col("shingles")).alias("_ds")
    ).select(F.col(id_col), "_ds", F.size("_ds").alias("_n"))
    return _ngram_pairs_from_ds(ds, id_col, threshold, max_bucket)


def _ngram_pairs_from_ds(
    ds: DataFrame, id_col: str, threshold: float, max_bucket: int
) -> DataFrame:
    """``ngram_jaccard_pairs`` body over a prepared (id, _ds, _n)
    distinct-shingle frame (see ``_near_dup_pairs_from_ds``)."""
    postings = ds.select(
        F.col(id_col), F.col("_n").alias("n"),
        F.explode("_ds").alias("shingle"),
    )
    capped = postings.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("shingle"))
    ).filter(F.col("bucket_n") <= max_bucket)
    left = capped.select(
        "shingle", F.col(id_col).alias("doc_a"), F.col("n").alias("n_a")
    )
    right = capped.select(
        "shingle", F.col(id_col).alias("doc_b"), F.col("n").alias("n_b")
    )
    from fractions import Fraction

    frac = Fraction(str(threshold))
    p_, q_ = frac.numerator, frac.denominator
    return (
        left.join(right, on="shingle")
        # integer length prune (n·t on floats can flip at the boundary)
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_a") * q_ >= F.col("n_b") * p_)
            & (F.col("n_b") * q_ >= F.col("n_a") * p_)
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("isect"))
        # exact threshold: i·q >= p·(n_a + n_b − i); union >= 1 always
        # (the pair shares at least one shingle)
        .filter(
            F.col("isect") * q_
            >= p_ * (F.col("n_a") + F.col("n_b") - F.col("isect"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "(isect * 10000 * 2 + (n_a + n_b - isect))"
                " div (2 * (n_a + n_b - isect))"
            ).alias("jaccard_e4"),
        )
    )


# --- SimHash -----------------------------------------------------------------


def simhash32(hashed_words: Column | str) -> Column:
    """32-bit SimHash fingerprint as a '0'/'1' string, over an ALREADY
    MATERIALIZED array of md5(word) hex strings (materialize-first for
    the same codegen reason as ``minhash_signature`` — inlining the
    tokenize+md5 tree into all 32 bit expressions forces interpreted
    evaluation).

    Bit j of a word = whether hex digit j of md5(word) is >= '8' (the
    high bit of each nibble — 32 independent uniform bits, computable
    identically in any engine with md5+substr). Fingerprint bit j =
    majority vote over the document's words (+1/-1, ties -> 1).
    """
    hashed = F.col(hashed_words) if isinstance(hashed_words, str) else hashed_words

    # Factory keeps the merge lambda two-parameter ((acc, x)); a
    # default-arg capture would make pyspark bind a 3-arg form that
    # ArrayAggregate rejects.
    def _vote(j: int):
        return lambda acc, h: acc + F.when(
            F.substring(h, j + 1, 1) >= "8", 1
        ).otherwise(-1)

    bits = []
    for j in range(32):
        vote = F.aggregate(hashed, F.lit(0), _vote(j))
        bits.append(F.when(vote >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", prefix_bits: int = 8
) -> DataFrame:
    """Per-doc SimHash + a bucketable prefix: near-dups (small Hamming
    distance) usually share the leading bits, so the prefix is the LSH
    band key for candidate pairing at scale. fan_out un-serializes the
    heavy per-row work when the scan is row-group-bound.

    The votes are explode + 32 grouped integer sums, NOT the 32
    ``aggregate()`` folds of ``simhash32``: higher-order functions
    never compile to codegen, and the interpreted 32-fold pass was the
    dominant CPU of every simhash query (profiled ~5s in one stage at
    sf0.1). Integer sums are order-independent, so the grouped form is
    value-identical; the ``_n`` size column reproduces the fold's
    degenerate-input behavior exactly (empty token array -> votes all
    0 -> all-'1' fingerprint; null array -> null votes -> all-'0')."""
    from streaming_demos_spark.operators.text import _sql_tokens

    # Single-parse expressions throughout (construction-cost note in
    # functions/sqlfrag.py): the 32 vote aggregates and the 32-bit
    # concat otherwise cost ~600 Column-op py4j round trips per query
    # construction.
    hashed = fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col),
        F.expr(
            f"transform({_sql_tokens(text_col)}, x -> md5(x))"
        ).alias("_hw"),
    )
    ex = hashed.select(
        F.col(id_col),
        # NULL for a null array, 0 for an empty one (sizeOfNull=false)
        F.size("_hw").alias("_n"),
        F.explode_outer("_hw").alias("_w"),
    )
    votes = [
        # the explode_outer placeholder row of an empty/null array
        # must not vote (the fold never iterated); real null words
        # cannot occur (md5 of split() tokens is never null)
        F.expr(
            "sum(CASE WHEN _w IS NOT NULL THEN"
            f" (CASE WHEN substring(_w, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END)"
            f" ELSE 0 END) AS _v{j}"
        )
        for j in range(32)
    ]
    sums = ex.groupBy(id_col).agg(F.first("_n").alias("_n"), *votes)
    fp = F.expr(
        "concat("
        + ", ".join(
            "CASE WHEN _n IS NULL THEN '0'"
            f" WHEN _v{j} >= 0 THEN '1' ELSE '0' END"
            for j in range(32)
        )
        + ")"
    )
    return sums.select(
        F.col(id_col),
        fp.alias("simhash"),
        F.substring(fp, 1, prefix_bits).alias("simhash_prefix"),
    )


# --- near-dup clustering (connected components over the pair graph) ----------


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) labeling of the undirected pair graph —
    component = minimum node id reachable from the node.

    Iterative min-label propagation: each round every node takes the
    minimum of its own label and its neighbors' labels; converged when a
    round changes nothing. Rounds are plain shuffled joins/aggregations,
    so each one scales out; the round COUNT is bounded by the graph
    diameter, and near-dup graphs are overwhelmingly tiny cliques/chains
    (diameter 1-3), so this converges in a handful of rounds. For
    adversarial long-chain graphs the large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce") drops rounds
    to O(log d) with the same join-shaped primitives.

    Each round is localCheckpoint-ed: labels are re-read as a
    materialized RDD rather than re-deriving an ever-deeper lineage
    (iteration over DataFrames otherwise re-plans round 1..k-1 inside
    round k).
    """
    # Checkpoint the EDGE frame before symmetrizing: the a->b / b->a
    # union is two plan subtrees, and Catalyst does not share subtrees,
    # so symmetrizing first evaluates the whole upstream pair pipeline
    # TWICE (measured 19.3s vs 7.6s+0.3s on the 10x probe corpus).
    #
    # The KEYED repartition before the checkpoint matters for layout:
    # the pair pipeline's last join is a broadcast probe against the
    # persisted (fan_out, fixed 32-partition) shingle frame, so its
    # output — a few KB of edges at bench scale — inherits those 32
    # partitions, the checkpoint pins them, the union doubles them, and
    # every CC round then runs 64-task stages on kilobytes (profiled:
    # three 64-task stages of ~16 KB shuffle each per query). A keyed
    # repartition is an AQE-coalescible exchange (unlike repartition(n)):
    # at bench scale the edge frame checkpoints as 1-2 right-sized
    # partitions, at 100 TB AQE sizes it to the advisory partition
    # bytes — scale-adaptive either way (guide §2.4/§6).
    edges = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .repartition("a")
        .localCheckpoint(eager=True)  # pair generation runs ONCE
    )
    # sym is NOT checkpointed: it is a narrow union over the already
    # checkpointed edge blocks, so each round re-derives it with two
    # local cached-block reads — strictly cheaper than the extra
    # materialization action its own checkpoint cost (one driver job
    # per query; the per-action floor dominates small-graph rounds).
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        # LAZY checkpoint + FULL count fused into ONE driver action per
        # round (was two: an eager materialization plus a limit(1)
        # count): the unrestricted count computes every partition of
        # the checkpointed RDD, so the count job itself materializes
        # the checkpoint, and the next round reads the cached blocks.
        # A limit(1) count here would risk a partial materialization.
        proposed = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.col("lbl").alias("old_lbl"),
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
        changed = proposed.filter(F.col("lbl") != F.col("old_lbl")).count()
        labels = proposed.select("node", "lbl")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Exhausting the round budget with changes still in flight means
        # some component carries >1 label — downstream "keep one per
        # cluster" would silently keep extras. Surface it loudly instead.
        raise RuntimeError(
            f"connected_components: no convergence after {max_iter} rounds "
            f"(graph diameter exceeds the budget); raise max_iter or use "
            f"connected_components_star (O(log d) rounds) for long-chain graphs"
        )
    return labels.select(F.col("node"), F.col("lbl").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) labeling via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log d) rounds versus min-label propagation's O(d), the
    right tool when the pair graph may contain long chains (adversarial
    near-dup corpora, clickstream link graphs).

    Each round is two grouped-join phases over the current edge set:
    large-star points every neighbor v > u at m = min(Γ⁺(u)); small-star
    re-points all smaller neighbors (and u itself) at the minimum. Edges
    only ever re-point DOWNWARD, so the edge set converges to rooted
    stars whose root is the component minimum — the same labeling
    ``connected_components`` produces. Convergence = the edge set stops
    changing; exhaustion raises like the propagation variant."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    n_edges = e.count()
    for _ in range(max_iter):
        # large-star: symmetric neighbor view, attach v>a to min(Γ⁺(a))
        sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).union(
            e.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("_mn"))
            .select("a", F.least(F.col("a"), F.col("_mn")).alias("m"))
        )
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(
                F.least(F.col("b"), F.col("m")).alias("u"),
                F.greatest(F.col("b"), F.col("m")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: directed larger->smaller, re-point all smaller
        # neighbors (and the center) at the minimum neighbor
        dir_ = large.select(F.col("v").alias("a"), F.col("u").alias("b"))
        mins2 = dir_.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            dir_.join(mins2, "a")
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
            .union(mins2.select(F.col("a").alias("x"), F.col("m").alias("y")))
        )
        e2 = (
            small.select(
                F.least(F.col("x"), F.col("y")).alias("u"),
                F.greatest(F.col("x"), F.col("y")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n2 = e2.count()
        unchanged = n2 == n_edges and e2.subtract(e).limit(1).count() == 0
        e, n_edges = e2, n2
        if unchanged:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star: no convergence after {max_iter} "
            f"rounds — raise max_iter"
        )
    # converged state is rooted stars: every edge is (root, node)
    return (
        e.select(F.col("v").alias("node"), F.col("u").alias("component"))
        .union(e.select(F.col("u").alias("node"), F.col("u").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def near_dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_rows: int = 3,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 50,
) -> DataFrame:
    """Full near-dup dedup decision: MinHash-LSH pairs -> connected
    components -> per-cluster canonical keep (minimum doc id). Returns
    one row per document: (id, component, n_members, is_kept) — docs in
    no pair are singleton components of themselves and are kept.

    This is the "keep one representative per duplicate cluster" step a
    curation pipeline applies after pair generation: transitive closure
    matters because near-dup similarity is not transitive (A~B, B~C but
    A!~C must still collapse to ONE kept doc, not two)."""
    pairs = minhash_near_dup_pairs(
        docs, text_col, id_col, num_hashes, band_rows, shingle_k, threshold, max_bucket
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    labeled = (
        docs.select(F.col(id_col))
        .join(comp, docs[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    sizes = labeled.groupBy("component").agg(F.count("*").alias("n_members"))
    return (
        labeled.join(sizes, on="component")
        .select(
            id_col,
            "component",
            "n_members",
            # coalesce: non-nullable BOOLEAN in the output schema — the
            # driver's pandas comparator renders Spark None vs DuckDB NaN
            # differently on nullable flags (oracle mirrors COALESCE).
            F.coalesce(
                F.col(id_col) == F.col("component"), F.lit(False)
            ).alias("is_kept"),
        )
    )


def near_dup_keep_best(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_rows: int = 3,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 50,
) -> DataFrame:
    """Near-dup dedup keeping the BEST-QUALITY representative per
    cluster (instead of ``near_dup_clusters``' min-id canonical): the
    curation-grade decision — when several near-duplicates survive
    crawling, keep the one the quality gate scores highest, ties to the
    smallest id.

    Composition of existing pieces: LSH pairs -> connected components
    -> join the ``text_stats`` quality score -> rank-1 per component.
    Adds exactly one extra shuffle (the component window) over the
    clustering itself; the quality join is id-keyed.
    """
    from streaming_demos_spark.operators.text import text_stats

    clusters = near_dup_clusters(
        docs, text_col, id_col, num_hashes, band_rows, shingle_k,
        threshold, max_bucket,
    ).drop("is_kept")
    quality = text_stats(docs, text_col, id_col).select(
        F.col(id_col), F.col("quality_score")
    )
    joined = clusters.join(quality, id_col)
    w = Window.partitionBy("component").orderBy(
        F.desc("quality_score"), F.asc(id_col)
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .select(
            id_col,
            "component",
            "n_members",
            "quality_score",
            (F.col("_rn") == 1).alias("keep"),
        )
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 8,
    max_hamming: int = 3,
    max_bucket: int = 50,
) -> DataFrame:
    """SimHash near-dup pairs — the pairing step on top of
    ``simhash_fingerprints``: candidates share the ``prefix_bits``-bit
    fingerprint prefix (equality bucket join, hot buckets capped), and
    verification is the exact Hamming distance over the full 32-bit
    strings, kept at or below ``max_hamming``.

    Same scale contract as the MinHash path: candidate count is bounded
    by Σ bucket² with the cap, never an all-pairs product; the Hamming
    check is 32 fixed character comparisons (whole-stage codegen, no
    UDF). Recall caveat is the standard SimHash one — a near-dup pair
    differing within the prefix lands in different buckets; production
    rotates the fingerprint (or uses multiple prefix tables) the same
    way the LSH multi-table OR construction does.
    """
    fps = simhash_fingerprints(docs, text_col, id_col, prefix_bits)
    # collect_list + double explode on the window-capped buckets, not a
    # prefix self-join: the join form evaluated the whole fingerprint
    # subtree on both sides (same fix, same equivalence argument as
    # the minhash candidate generation — the prefix is never null and
    # ids are unique per bucket, so groupBy groups == join-equality
    # classes; the window cap bounds every collected array)
    sized = (
        fps.withColumn(
            "_bn", F.count("*").over(Window.partitionBy("simhash_prefix"))
        )
        .filter((F.col("_bn") >= 2) & (F.col("_bn") <= max_bucket))
        .select(
            "simhash_prefix", F.struct(F.col(id_col), "simhash").alias("_m")
        )
    )
    grouped = sized.groupBy("simhash_prefix").agg(
        F.collect_list("_m").alias("_ms")
    )
    pairs = (
        grouped.select(F.explode("_ms").alias("_a"), "_ms")
        .select("_a", F.explode("_ms").alias("_b"))
        .filter(F.col(f"_a.{id_col}") < F.col(f"_b.{id_col}"))
        .select(
            F.col(f"_a.{id_col}").alias("doc_a"),
            F.col(f"_b.{id_col}").alias("doc_b"),
            F.col("_a.simhash").alias("_fa"),
            F.col("_b.simhash").alias("_fb"),
        )
    )
    # single-parse 32-term sum (construction-cost note in
    # functions/sqlfrag.py)
    hamming = F.expr(
        " + ".join(
            f"(CASE WHEN substring(_fa, {j}, 1) != substring(_fb, {j}, 1)"
            " THEN 1 ELSE 0 END)"
            for j in range(1, 33)
        )
    )
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_rows: int = 3,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 50,
) -> DataFrame:
    """Corpus dedup summary — the one-row report a curation run logs
    before and after deduplication: document count, exact-duplicate row
    count (docs minus distinct md5(text)), the near-dup cluster picture
    (multi-member clusters, docs inside them, docs surviving the
    min-id keep rule) and the resulting keep rate.

    Cost = the clustering plan plus two scalar aggregates; everything
    joins as broadcast 1-row frames, nothing is collected.
    """
    exact = docs.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(F.md5(F.col(text_col))).alias("_n_texts"),
    )
    clusters = near_dup_clusters(
        docs, text_col, id_col, num_hashes, band_rows, shingle_k,
        threshold, max_bucket,
    )
    near = clusters.agg(
        F.count_distinct(
            F.when(F.col("n_members") > 1, F.col("component"))
        ).alias("n_multi_clusters"),
        F.count(F.when(F.col("n_members") > 1, 1)).alias("n_near_dup_docs"),
        F.sum(F.col("is_kept").cast("long")).alias("n_near_kept"),
    )
    return exact.crossJoin(F.broadcast(near)).select(
        "n_docs",
        (F.col("n_docs") - F.col("_n_texts")).alias("n_exact_dup_rows"),
        "n_multi_clusters",
        "n_near_dup_docs",
        "n_near_kept",
        F.expr(
            "(n_near_kept * 10000 * 2 + n_docs) div (2 * n_docs)"
        ).alias("near_keep_rate_e4"),
    )


# --- block-level (paragraph-analog) dedup ------------------------------------


def block_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 20,
    min_keep_ratio: float = 0.0,
) -> DataFrame:
    """Sub-document dedup (the RefinedWeb/CCNet "paragraph dedup" pass,
    restated for newline-free corpora): split each document into fixed
    ``block_words``-word blocks, drop every block whose exact content
    appears earlier in the corpus (first occurrence wins — ordered by
    (doc_id, block position)), and reassemble the surviving blocks in
    order. Whole-document dedup misses boilerplate spans repeated
    INSIDE otherwise-distinct documents; this pass removes them without
    discarding the documents.

    Returns (id, text, n_blocks, n_kept, keep_ratio) with the cleaned
    text; rows whose keep_ratio falls below ``min_keep_ratio`` (mostly-
    boilerplate shells) are dropped entirely.

    Scale shape: posexplode fans each doc into its blocks; the
    first-occurrence rank is ONE shuffle on the block hash (md5 —
    uniform keys, no skew: a boilerplate block repeated a million times
    is still one hash group reduced by a min-struct aggregate, never a
    window over a hot partition); reassembly is ONE shuffle back on the
    doc id with an in-array sort (no per-doc window). Both shuffles are
    map-side combinable. At 100 TB this is strictly cheaper than the
    MinHash pass that usually follows it.
    """
    from streaming_demos_spark.catalog import fan_out
    from streaming_demos_spark.operators.text import tokens

    toks = fan_out(docs.select(id_col, text_col), id_col).select(
        F.col(id_col), tokens(text_col).alias("_w")
    )
    # greatest(..., 1): an empty/whitespace doc still yields one (empty)
    # block — sequence(0, -1) would otherwise count DOWN and fan out
    nblk = F.greatest(
        F.ceil(F.size("_w") / F.lit(block_words)).cast("int"), F.lit(1)
    )
    blocks = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nblk - 1),
                lambda i: F.array_join(
                    F.slice("_w", i * block_words + 1, block_words), " "
                ),
            )
        ).alias("pos", "block"),
    ).withColumn("_h", F.md5("block"))
    # first occurrence of each block content, corpus-wide: min (doc, pos)
    first = blocks.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("_f")
    )
    kept = blocks.join(first, "_h").withColumn(
        "_keep",
        (F.col(id_col) == F.col("_f.d")) & (F.col("pos") == F.col("_f.p")),
    )
    out = kept.groupBy(id_col).agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("pos", "block"))
                    )
                ),
                lambda s: s["block"],
            ),
            " ",
        ).alias("text"),
    )
    return (
        out.withColumn(
            # kept/blocks is a small-denominator RATIONAL — half-up e4
            # integer + integer threshold (rounded doubles straddle
            # midpoints across engine builds)
            "keep_ratio_e4",
            F.expr(
                "(n_kept * 10000 * 2 + n_blocks) div (2 * n_blocks)"
            ),
        )
        .filter(
            F.col("n_kept") * Fraction(str(min_keep_ratio)).denominator
            >= Fraction(str(min_keep_ratio)).numerator * F.col("n_blocks")
        )
        .select(id_col, "text", "n_blocks", "n_kept", "keep_ratio_e4")
    )


def incremental_near_dup(
    new_docs: DataFrame,
    base_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_rows: int = 3,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 50,
) -> DataFrame:
    """Incremental NEAR-duplicate check of a new batch against an
    existing corpus — the fuzzy counterpart of ``incremental_dedup``
    and the real crawl-refresh shape: the base corpus's band index is
    computed once (at 100 TB it is PRE-MATERIALIZED at ingest and the
    base-side banding here is just a scan of that store), and only the
    delta is shingled/hashed fresh.

    Candidate generation is a two-table equality join on
    (band_id, band_hash) — delta rows meet only the base rows in their
    buckets, never the whole corpus; buckets with more than
    ``max_bucket`` BASE members are dropped (boilerplate guard, same
    contract as the self-join form). Candidates verify with exact
    n-gram Jaccard. Output: (new_id, base_id, jaccard) for every delta
    doc with a qualifying near-dup already in the corpus — the rows a
    refresh pipeline REJECTS before append."""
    ds_new = _distinct_shingled(new_docs, text_col, id_col, shingle_k)
    ds_base = _distinct_shingled(base_docs, text_col, id_col, shingle_k)
    nb = _bands_from_sig(
        _minhash_sig_from(ds_new, id_col, "_ds", num_hashes),
        id_col, num_hashes, band_rows,
    ).select("band_id", "band_hash", F.col(id_col).alias("new_id"))
    bb = _bands_from_sig(
        _minhash_sig_from(ds_base, id_col, "_ds", num_hashes),
        id_col, num_hashes, band_rows,
    )
    bb = bb.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band_id", "band_hash"))
    ).filter(F.col("bucket_n") <= max_bucket).select(
        "band_id", "band_hash", F.col(id_col).alias("base_id")
    )
    cand = (
        nb.join(bb, on=["band_id", "band_hash"])
        .select("new_id", "base_id")
        .distinct()
    )
    from fractions import Fraction

    frac = Fraction(str(threshold))
    # verify sides read the SAME persisted distinct-shingle projections
    # the bands were built from (see minhash_near_dup_pairs)
    sh_new = ds_new.select(
        F.col(id_col).alias("new_id"),
        F.col("_ds").alias("sh_a"),
        F.col("_n").alias("_na"),
    )
    sh_base = ds_base.select(
        F.col(id_col).alias("base_id"),
        F.col("_ds").alias("sh_b"),
        F.col("_n").alias("_nb"),
    )
    # single-intersect filter first (see minhash_near_dup_pairs), then
    # the survivors-only projection recomputes the (cheap) remainder
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    ab = F.col("_na") + F.col("_nb")
    return (
        cand.join(sh_new, on="new_id")
        .join(sh_base, on="base_id")
        .filter(
            (ab > 0)
            & (
                inter * F.lit(frac.numerator + frac.denominator)
                >= F.lit(frac.numerator) * ab
            )
        )
        .select(
            "new_id",
            "base_id",
            F.expr(
                "(size(array_intersect(sh_a, sh_b)) * 10000 * 2"
                " + (_na + _nb - size(array_intersect(sh_a, sh_b))))"
                " div (2 * (_na + _nb"
                " - size(array_intersect(sh_a, sh_b))))"
            ).alias("jaccard_e4"),
        )
    )


def cross_source_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    block_words: int | None = None,
) -> DataFrame:
    """Cross-domain duplicate-overlap matrix: for every pair of
    domains, how many DISTINCT contents appear in both — the
    diagnostic a corpus curation run reads before deciding which
    source to keep duplicates from (and the denominator for
    "X% of src_b is already in src_a" claims, via the per-source
    distinct counts carried on each row).

    ``block_words=None`` keys by the whole document (md5 of the raw
    text); an integer keys by fixed word-blocks (the
    :func:`block_dedup` granularity) — the RefinedWeb-style view that
    catches boilerplate spans shared across otherwise-distinct
    documents, which whole-document hashing reports as zero overlap.

    Plan shape: one (hash, group) distinct — a single hash-keyed
    combinable shuffle — then a co-partitioned self-join on the
    content hash (group sizes bounded by |domains|, so the join fans
    out at most |domains|² per content, not corpus²) and a
    |domains|²-row aggregate. Per-source totals join back by broadcast
    (|domains| rows).
    """
    from pyspark import StorageLevel

    from streaming_demos_spark.catalog import fan_out
    from streaming_demos_spark.operators.text import tokens

    if block_words is None:
        keyed = docs.select(F.md5(F.col(text_col)).alias("_h"), F.col(group_col))
    else:
        toks = fan_out(docs.select(group_col, text_col), group_col).select(
            F.col(group_col), tokens(text_col).alias("_w")
        )
        nblk = F.greatest(
            F.ceil(F.size("_w") / F.lit(block_words)).cast("int"), F.lit(1)
        )
        keyed = toks.select(
            F.col(group_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), nblk - 1),
                    lambda i: F.md5(
                        F.array_join(
                            F.slice("_w", i * block_words + 1, block_words), " "
                        )
                    ),
                )
            ).alias("_h"),
        )
    # (hash, group) distinct feeds three consumers (totals + both join
    # sides); persist so the scan+distinct runs once.
    hashed = keyed.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    per_source = hashed.groupBy(group_col).agg(
        F.count("*").alias("n_texts")
    )
    a = hashed.select(F.col("_h"), F.col(group_col).alias("source_a"))
    b = hashed.select(F.col("_h"), F.col(group_col).alias("source_b"))
    shared = (
        a.join(b, on="_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    na = per_source.select(
        F.col(group_col).alias("source_a"), F.col("n_texts").alias("n_a")
    )
    nb = per_source.select(
        F.col(group_col).alias("source_b"), F.col("n_texts").alias("n_b")
    )
    return (
        shared.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            # shared/min is a small-denominator RATIONAL — half-up e6
            # integer instead of a midpoint-prone rounded double
            F.expr(
                "(n_shared * 1000000 * 2 + least(n_a, n_b))"
                " div (2 * least(n_a, n_b))"
            ).alias("overlap_rate_e6"),
        )
        .orderBy("source_a", "source_b")
    )


# --- leakage-free train/holdout split ----------------------------------------


def cluster_split(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    holdout_pct: int = 10,
    num_hashes: int = 12,
    band_rows: int = 3,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 50,
) -> DataFrame:
    """Leakage-free train/holdout assignment: near-duplicate documents
    must land in the SAME split (a held-out doc whose near-copy sits in
    train silently inflates eval), so the split key is the near-dup
    CLUSTER label, not the document id.

    Composition: ``near_dup_clusters`` (MinHash-LSH pairs -> connected
    components; singletons label themselves) -> deterministic md5 bucket
    of the component label -> ``holdout_pct``% of clusters to
    'holdout', rest 'train'. Every member of a component shares the
    component's bucket, so the no-leak invariant holds by construction.

    Scale: adds one map-side hash + CASE on top of the clustering plan —
    no extra shuffle; assignment is reproducible across runs/engines
    (md5, not rand()) so the split survives corpus re-processing.
    """
    labeled = near_dup_clusters(
        docs, text_col, id_col, num_hashes, band_rows, shingle_k, threshold, max_bucket
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("component").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 100
    )
    return labeled.select(
        id_col,
        "component",
        F.when(bucket < holdout_pct, F.lit("holdout"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# --- arbitrary-offset duplicate spans ----------------------------------------


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 15,
    max_positions: int = 1_000_000,
) -> DataFrame:
    """Report every maximal span of text that repeats a k-token window
    occurring EARLIER in the corpus — the arbitrary-offset core of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499)
    restated join-shaped: block_dedup catches aligned duplication, this
    catches duplication at ANY offset.

    Windows at every token position are fingerprinted (md5 of the
    k-word window); within each fingerprint group the minimum
    ``(doc, pos)`` occurrence is canonical and every other occurrence
    is a duplicate window; per document, overlapping duplicate windows
    merge into maximal spans (gaps-and-islands with a running-max end,
    window partitioned BY DOC — never global). Returns
    ``(id, span_start, span_end, n_windows)`` in token coordinates.

    Plan: explode (n_tokens rows, ~k x the raw text in motion — the
    price of every-offset sensitivity), ONE shuffle on the fingerprint
    with a min-struct aggregate (no hot-key window), one doc-keyed
    shuffle for the island merge. ``max_positions`` bounds the
    composite (doc, pos) ordering key.
    """
    from streaming_demos_spark.operators.text import tokens

    toked = fan_out(docs.select(id_col, text_col), id_col).select(
        F.col(id_col), tokens(text_col).alias("_w")
    )
    n = F.size("_w")
    wins = (
        toked.filter(n >= k)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.array_join(
                        F.slice("_w", i + 1, F.lit(k)), " "
                    ),
                )
            ).alias("pos", "_win"),
        )
        .select(id_col, "pos", F.md5("_win").alias("_h"))
    )
    from pyspark import StorageLevel

    # Two consumers (the canonical-occurrence aggregate and the join
    # probe side) — materialize the 2M-row window frame once instead of
    # re-tokenizing and re-hashing the corpus per consumer.
    wins = wins.persist(StorageLevel.MEMORY_AND_DISK)
    ordkey = F.col(id_col) * F.lit(max_positions) + F.col("pos")
    # Only fingerprints occurring MORE than once can produce duplicate
    # windows — filtering the build side to them shrinks it from
    # |distinct windows| to |repeated windows| (orders of magnitude on
    # a mostly-unique corpus), letting AQE broadcast the join.
    canon = (
        wins.groupBy("_h")
        .agg(F.min(ordkey).alias("_first"), F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") > 1)
        .select("_h", "_first")
    )
    dups = (
        wins.join(canon, "_h")
        .filter(ordkey != F.col("_first"))
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = F.sum(
        F.when(
            F.col("pos") > F.coalesce(prev_end, F.lit(-1)), F.lit(1)
        ).otherwise(F.lit(0))
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        dups.withColumn("_grp", grp)
        .groupBy(id_col, "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
        .orderBy(id_col, "span_start")
    )


def minhash_lsh_eval(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.1,
    num_hashes: int = 12,
    band_rows: int = 3,
    shingle_k: int = 3,
) -> DataFrame:
    """Quality harness for the MinHash-LSH dedup path: compare its
    verified pairs against the EXACT inverted-index Jaccard join at the
    same threshold and report recall — the fraction of true near-dup
    pairs the banding actually surfaced (the `ann_recall` analog for
    the dedup family).

    The exact side cannot miss a qualifying pair (any such pair shares
    >= 1 shingle), so it is the ground truth; the LSH side misses a
    pair when no band's rows all collide (probability ``(1-J^r)^b``).
    Both sides run their documented bucket caps, so the measured recall
    is the recall of the pipelines AS SHIPPED, not an idealized bound.
    One output row: n_truth, n_found, n_hits, recall.
    """
    # ONE persisted distinct-shingle projection feeds the exact
    # postings side AND the LSH band+verify side — without it the
    # harness re-shingles the corpus once per side
    ds = _distinct_shingled(docs, text_col, id_col, shingle_k)
    truth = _ngram_pairs_from_ds(ds, id_col, threshold, 50).select(
        "doc_a", "doc_b"
    )
    found = _near_dup_pairs_from_ds(
        ds, id_col, num_hashes, band_rows, threshold, 50
    ).select("doc_a", "doc_b")
    # tagged union -> each expensive side (exact postings join, LSH
    # banding) is computed ONCE; a join+count+count form would run the
    # truth subplan twice and the found subplan twice
    tagged = truth.select(
        "doc_a", "doc_b", F.lit(1).alias("_t"), F.lit(0).alias("_f")
    ).unionByName(
        found.select(
            "doc_a", "doc_b", F.lit(0).alias("_t"), F.lit(1).alias("_f")
        )
    )
    pairs = tagged.groupBy("doc_a", "doc_b").agg(
        F.max("_t").alias("_t"), F.max("_f").alias("_f")
    )
    return pairs.agg(
        # coalesce: an empty pair set must report 0s (sum of an empty
        # frame is NULL), matching both the old join+count form and the
        # SQL oracle's count(*)
        F.coalesce(F.sum("_t"), F.lit(0)).alias("n_truth"),
        F.coalesce(F.sum("_f"), F.lit(0)).alias("n_found"),
        F.coalesce(F.sum(F.col("_t") * F.col("_f")), F.lit(0)).alias(
            "n_hits"
        ),
    ).select(
        "n_truth",
        "n_found",
        "n_hits",
        F.when(
            F.col("n_truth") > 0,
            F.expr("cast((cast(n_hits as decimal(38,0)) * 1000000 * 2 + n_truth)"
                   " div (2 * n_truth) as bigint)"),
        ).alias("recall_e6"),
    )


def lsh_tuning(
    docs: DataFrame,
    configs: list[tuple[int, int]] = ((4, 3), (3, 4), (2, 6), (6, 2)),
    pair_threshold: float = 0.05,
    target: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 6,
) -> DataFrame:
    """Banding-parameter design tool: for each candidate (bands b,
    rows r) MinHash-LSH configuration, the EXPECTED recall on true
    near-dups and the expected candidate rate, computed from the
    corpus's own measured Jaccard distribution — pick the cheapest
    config that meets the recall bar before paying for a full run.

    A pair with similarity J survives banding with probability
    ``1 - (1 - J^r)^b`` (the S-curve). Both expectations are
    conditional means of that expression over the exact
    inverted-index pair table (one pass): recall over pairs with
    ``J >= target``, candidate rate over ALL measured pairs (the
    false-candidate load proxy). One aggregation computes every
    config's columns; the per-config rows come from a stack of that
    single row — the pair table is scanned once no matter how many
    configs are screened.
    """
    pairs = ngram_jaccard_pairs(
        docs, text_col, id_col, threshold=pair_threshold
    ).select("jaccard_e4")
    # the S-curve consumes the exact e4 integer as jaccard_e4/1e4 — a
    # deterministic IEEE division — and the target gate is an integer
    # comparison
    j = F.col("jaccard_e4") / F.lit(10000.0)
    target_e4 = int(round(target * 10000))
    aggs = []
    for b, r in configs:
        p = F.lit(1.0) - F.pow(
            F.lit(1.0) - F.pow(j, F.lit(float(r))),
            F.lit(float(b)),
        )
        aggs.append(
            F.avg(
                F.when(F.col("jaccard_e4") >= target_e4, p)
            ).alias(f"_rec_{b}_{r}")
        )
        aggs.append(F.avg(p).alias(f"_cand_{b}_{r}"))
    one = pairs.agg(*aggs)
    stack_args = []
    for b, r in configs:
        stack_args += [
            f"{b}", f"{r}", f"_rec_{b}_{r}", f"_cand_{b}_{r}",
        ]
    expr = "stack({n}, {args}) as (bands, rows, _rec, _cand)".format(
        n=len(configs), args=", ".join(stack_args)
    )
    return one.selectExpr(expr).select(
        F.col("bands").cast("int").alias("bands"),
        F.col("rows").cast("int").alias("rows"),
        (F.col("bands") * F.col("rows")).alias("num_hashes"),
        F.round("_rec", round_dp).alias("expected_recall"),
        F.round("_cand", round_dp).alias("expected_candidate_rate"),
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 50,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT ``C(A->B) = |A∩B| / |A|`` — the
    sub-document duplication detector Jaccard misses: a short document
    wholly embedded in a long one has high containment but low Jaccard
    (|A∩B| / |A∪B| is dragged down by the big union). The classic use
    is boilerplate/quote detection and "this doc is a fragment of that
    one" curation calls.

    Same inverted-postings plan as ``ngram_jaccard_pairs`` (explode
    distinct shingles, hot-shingle bucket cap, equality join, per-pair
    intersection count) MINUS the symmetric length-ratio prune — a tiny
    document legitimately nests inside a huge one, so no |A|/|B| bound
    exists. The bucket cap is therefore the only candidate limiter;
    emits one row per unordered pair with both directions' containment,
    kept when EITHER direction clears the threshold (on the rounded
    value, so an oracle replay keeps the identical row set).
    """
    sh = _shingled(docs, text_col, id_col, shingle_k).select(
        F.col(id_col), F.array_distinct(F.col("shingles")).alias("s")
    )
    postings = sh.select(
        F.col(id_col), F.size("s").alias("n"), F.explode("s").alias("shingle")
    )
    capped = postings.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("shingle"))
    ).filter(F.col("bucket_n") <= max_bucket)
    left = capped.select(
        "shingle", F.col(id_col).alias("doc_a"), F.col("n").alias("n_a")
    )
    right = capped.select(
        "shingle", F.col(id_col).alias("doc_b"), F.col("n").alias("n_b")
    )
    from fractions import Fraction

    return (
        left.join(right, on="shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("_isect"))
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "_isect",
        )
        .filter(
            # exact threshold in integers (t = p/q): isect·q >= p·min —
            # a rounded-double compare flips on midpoints across builds
            F.expr(
                f"_isect * {Fraction(str(threshold)).denominator}"
                f" >= {Fraction(str(threshold)).numerator}"
                " * least(n_a, n_b)"
            )
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("(_isect * 10000 * 2 + n_a) div (2 * n_a)").alias(
                "containment_a_e4"
            ),
            F.expr("(_isect * 10000 * 2 + n_b) div (2 * n_b)").alias(
                "containment_b_e4"
            ),
        )
    )


def edit_distance_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_chars: int = 32,
    band_chars: int = 64,
    cap_chars: int = 256,
    max_dist: int = 24,
) -> DataFrame:
    """Character-level Levenshtein verification of near-duplicate
    candidates under prefix + length-band blocking.

    MinHash/Jaccard work on word shingles; character edit distance
    catches the near-dups they blur (small in-word edits, OCR noise).
    Exact all-pairs Levenshtein is O(n² · L²) — unusable — so
    candidates are blocked on ``(md5(normalized prefix), length
    band)``: only pairs agreeing on their first ``prefix_chars``
    normalized characters and sitting in the same ``band_chars``
    length band are compared. The JVM ``levenshtein`` then runs on the
    first ``cap_chars`` characters only, bounding per-pair cost to
    O(cap²) regardless of document length. Both the block join and the
    distance are whole-stage-codegen column work; per-block pair count
    is bounded by block occupancy (prefix collisions), never corpus
    size.
    """
    norm = F.lower(F.trim(F.col(text_col)))
    blocked = docs.select(
        F.col(id_col),
        F.md5(F.substring(norm, 1, prefix_chars)).alias("_blk"),
        F.floor(F.length(norm) / band_chars).alias("_band"),
        F.substring(norm, 1, cap_chars).alias("_head"),
    )
    a = blocked.select(
        "_blk", "_band",
        F.col(id_col).alias("doc_a"), F.col("_head").alias("_ha"),
    )
    b = blocked.select(
        "_blk", "_band",
        F.col(id_col).alias("doc_b"), F.col("_head").alias("_hb"),
    )
    return (
        a.join(b, on=["_blk", "_band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            # bounded form: O(len*k) banded DP with early exit instead
            # of the full O(len^2) matrix; returns the exact distance
            # whenever it is <= max_dist (and -1 above it, which the
            # filter drops exactly like the old > max_dist rows)
            F.levenshtein(F.col("_ha"), F.col("_hb"), max_dist).alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") >= 0)
    )


def cluster_size_distribution(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """Duplicate-cluster SIZE histogram — the one-look summary of how
    duplication is structured (many pairs vs a few giant boilerplate
    families decide whether keep-one dedup or template stripping is the
    right tool): one row per cluster size with the number of clusters
    and the documents they hold, plus the removal count keep-one dedup
    would produce at that size.

    Reuses ``near_dup_clusters`` (banded LSH -> connected components),
    then reduces the per-doc labels twice: component -> size (bounded
    by clusters) and size -> histogram (bounded by max cluster size).
    All outputs are exact integers.
    """
    labeled = near_dup_clusters(
        docs, text_col, id_col, threshold=threshold, **kwargs
    )
    sizes = labeled.groupBy("component").agg(
        F.max("n_members").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            (
                (F.col("cluster_size") - 1) * F.col("n_clusters")
            ).alias("n_removed_by_keep_one"),
        )
        .orderBy("cluster_size")
    )
