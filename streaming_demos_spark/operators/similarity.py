"""Similarity search over embedding columns (array<float>).

Two paths over the ``embeddings`` table:

- brute-force cosine top-k — the exactness baseline: broadcast the
  query vector, one map-side pass computing dot/norms with
  ``zip_with``/``aggregate`` (JVM-side, codegen), TakeOrderedAndProject
  for the top-k. Linear scan but embarrassingly parallel; at 100 TB it
  is the *verifier*, not the serving path.
- sign-LSH bucketed ANN — the scale path: P deterministic ±1
  hyperplanes (signs derived from md5, so any engine reproduces them)
  hash every vector to a 2^P-bucket key; search only the query's
  bucket. The bucket assignment is a per-row map; candidate retrieval
  is an equality join on the bucket key — no crossJoin of the corpus.

Also: embedding-cosine near-duplicate pairs (bucket join + threshold),
the fourth dedup family from the north-star brief.

Determinism: cosine is computed in double precision with a fixed
left-to-right summation (both Spark's ``aggregate`` and DuckDB's list
kernels fold sequentially), and every emitted score is rounded, so the
DuckDB oracle hash-matches.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streaming_demos_spark.catalog import fan_out
from streaming_demos_spark.operators.text import _q


def _as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def _sql_dot(a: str, b: str) -> str:
    """``dot`` as one parseable SQL fragment over two column NAMES —
    plan-construction here is py4j-bound (~30 ms to build one
    aggregate(zip_with(..)) operator-by-operator vs ~0.5 ms to parse
    the whole subtree); the parsed tree is the identical unresolved
    expression (see text.py construction-cost note)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ a_i·b_i via zip_with + left-to-right fold (JVM, no UDF)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_sql_dot(_q(a), _q(b)))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """NULL (not a DIVIDE_BY_ZERO crash — Spark 4 runs ANSI mode) when
    either vector has zero norm; zero vectors are a plausible input
    (failed encodes, padding rows) and must not kill a corpus job."""
    if isinstance(a, str) and isinstance(b, str):
        da = f"cast({_q(a)} as array<double>)"
        db = f"cast({_q(b)} as array<double>)"
        return F.expr(
            f"try_divide({_sql_dot(da, db)},"
            f" sqrt({_sql_dot(da, da)}) * sqrt({_sql_dot(db, db)}))"
        )
    da, db = _as_double(a), _as_double(b)
    return F.try_divide(
        dot(da, db), F.sqrt(dot(da, da)) * F.sqrt(dot(db, db))
    )


def brute_force_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against the embedding of ``query_vec_id``.
    The 1-row query side is a broadcast; orderBy+limit plans as
    TakeOrderedAndProject (per-partition top-k, k-row driver merge)."""
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_q")
    )
    return (
        emb.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            F.round(cosine(vec_col, "_q"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _plane_signs(num_planes: int, dim: int, offset: int = 0) -> list[list[float]]:
    """±1 hyperplane components: sign(p, j) = +1 iff the first hex digit
    of md5(f"{p}:{j}") >= '8'. Computed driver-side with hashlib — the
    same derivation any engine (or the SQL oracle) reproduces.
    ``offset`` shifts the plane ids, giving an INDEPENDENT plane-set per
    hash table (table t uses planes t·num_planes .. t·num_planes+P-1)."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{p}:{j}".encode()).hexdigest()[0] >= "8" else -1.0
            for j in range(dim)
        ]
        for p in range(offset, offset + num_planes)
    ]


def _sign_array_lit(signs: list[float]) -> Column:
    """A ±1.0 plane as ONE SQL array literal — a single py4j round trip.

    Building the plane element-wise (``F.array(*[F.lit(s) ...])`` or
    ``F.lit(list)``) converts every element through py4j individually;
    with 512-component planes x planes x tables x (query + corpus)
    sides, Python-side expression CONSTRUCTION — not planning, not
    execution — was the dominant wall time of the multi-probe
    harnesses (llm_ann_recall_multi: 3.7s build vs 0.15s plan vs 1.2s
    exec per invocation). The parsed CreateArray of foldable literals
    constant-folds to the identical ArrayType literal."""
    return F.expr(
        "array(" + ",".join("1.0D" if s > 0 else "-1.0D" for s in signs) + ")"
    )


def lsh_bucket(
    vec: Column | str, num_planes: int = 4, max_dim: int = 512, table: int = 0
) -> Column:
    """Sign-LSH bucket key: bit p = sign of the projection of the
    vector onto hyperplane p; a '0'/'1' string of length ``num_planes``.

    The hyperplanes depend only on (plane, index), so they are
    precomputed once on the driver and shipped as constant arrays
    (folded to a single array literal each) — an earlier formulation
    re-derived md5(p:j) per element per ROW, i.e. rows·dim·planes
    hashes of row-independent values. Vectors must have <= ``max_dim``
    components (the plane literal is sliced down to the row's length).
    ``table`` selects an independent plane-set (multi-table OR).

    A column NAME input takes the single-F.expr fast path (the whole
    P-plane bucket parses in one py4j round trip — see the
    construction-cost note in text.py); the parsed tree is the
    identical unresolved expression as the Column form below."""
    planes = _plane_signs(num_planes, max_dim, offset=table * num_planes)
    if isinstance(vec, str):
        v = f"cast({_q(vec)} as array<double>)"
        bits = []
        for signs in planes:
            arr = "array(" + ",".join(
                "1.0D" if s > 0 else "-1.0D" for s in signs) + ")"
            proj = (f"aggregate(zip_with({v}, slice({arr}, 1, size({v})),"
                    " (x, s) -> x * s), 0.0D, (acc, x) -> acc + x)")
            bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
        return F.expr("concat(" + ", ".join(bits) + ")")
    v = _as_double(vec)
    bits = []
    for signs in planes:
        plane = _sign_array_lit(signs)
        proj = F.aggregate(
            F.zip_with(v, F.slice(plane, F.lit(1), F.size(v)), lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def with_lsh_bucket(
    emb: DataFrame, num_planes: int = 4, vec_col: str = "embedding"
) -> DataFrame:
    return emb.withColumn("bucket", lsh_bucket(vec_col, num_planes))


def with_lsh_buckets(
    emb: DataFrame,
    num_planes: int = 4,
    num_tables: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """One bucket column per independent hash table: ``bucket_0``..
    ``bucket_{T-1}``. All T projections happen in the same map stage —
    one corpus pass regardless of table count."""
    for t in range(num_tables):
        emb = emb.withColumn(
            f"bucket_{t}", lsh_bucket(vec_col, num_planes, table=t)
        )
    return emb


def lsh_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: exact cosine, but only within the query's LSH bucket.
    Candidate retrieval is an equality join on the bucket key — the
    scan prunes to ~corpus/2^P rows. Recall < 1 by construction; raise
    num_planes and union multiple plane-sets ("OR" tables) to trade
    compute for recall."""
    bucketed = with_lsh_bucket(emb, num_planes, vec_col)
    q = bucketed.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_q"), F.col("bucket").alias("_qb")
    )
    return (
        bucketed.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(q), F.col("bucket") == F.col("_qb"))
        .select(
            id_col,
            F.round(cosine(vec_col, "_q"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def lsh_topk_multi(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    num_planes: int = 4,
    num_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table ("OR construction") sign-LSH ANN top-k: a row is a
    candidate if it shares the query's bucket in ANY of ``num_tables``
    independent plane-sets; the per-table candidate sets are unioned and
    DEDUPED before the exact-cosine ranking (a row matching in two
    tables must score once, not twice).

    Each table's retrieval stays an equality join on its bucket key —
    scan pruning per table is unchanged (~corpus/2^P), total candidate
    volume grows ~linearly in T while miss probability decays
    EXPONENTIALLY in T (a true neighbor must flip sign in >= 1 plane of
    every table to be lost) — the standard recall knob that does not
    touch per-bucket precision, unlike lowering P."""
    bucketed = with_lsh_buckets(emb, num_planes, num_tables, vec_col)
    bcols = [f"bucket_{t}" for t in range(num_tables)]
    q = bucketed.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_q"), *[F.col(b).alias(f"_q{b}") for b in bcols]
    )
    corpus = bucketed.filter(F.col(id_col) != query_vec_id)
    cands = None
    for b in bcols:
        c = corpus.join(
            F.broadcast(q.select(f"_q{b}")), F.col(b) == F.col(f"_q{b}")
        ).select(id_col, vec_col)
        cands = c if cands is None else cands.unionByName(c)
    return (
        cands.dropDuplicates([id_col])
        .crossJoin(F.broadcast(q.select("_q")))
        .select(
            id_col,
            F.round(cosine(vec_col, "_q"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its
    nearest-centroid cell (max cosine, centroid-id tie-break). The
    centroid table is broadcast (n_centroids ~ sqrt(N) rows); the
    assignment is a map-side broadcast join + per-row top-1 — no
    all-pairs shuffle."""
    from pyspark.sql import Window

    c = centroids.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    scored = emb.join(F.broadcast(c)).select(
        id_col,
        vec_col,
        "_cid",
        F.round(cosine(vec_col, "_cvec"), 6).alias("_ccos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_ccos"), F.asc("_cid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, vec_col, F.col("_cid").alias("centroid_id"))
    )


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: probe only the ``nprobe`` cells whose centroids
    are closest to the query, then exact cosine inside those cells.

    Centroids are the vectors with the ``n_centroids`` smallest ids —
    a deterministic (oracle-replayable) stand-in for a k-means step;
    swap in trained centroids without touching the plan shape. Scan
    cost drops to ~corpus·nprobe/n_centroids; recall < 1 by
    construction, tune with nprobe."""
    centroids = emb.filter(F.col(id_col) < n_centroids)
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_q")
    )
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("centroid_id"),
            F.round(cosine(vec_col, "_q"), 6).alias("_pcos"),
        )
        .orderBy(F.desc("_pcos"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    return (
        assigned.join(F.broadcast(probe), "centroid_id")
        .filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            F.round(cosine(vec_col, "_q"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: self-join WITHIN LSH
    buckets (never all-pairs), exact cosine verify, threshold filter.
    Near-identical vectors land in the same bucket with high
    probability (all P projections must flip sign to escape).

    ``max_bucket`` (optional) thins each bucket to ~that many vectors
    with the deterministic hash-stride filter measured in SCALE.md's
    contrastive-triplets A/B (82x -> 3.1x at 10x): keep a vector iff
    ``md5_uniform(id) % ceil(bucket_size/max_bucket) == 0``, bucket
    sizes being a 2^planes-row broadcast aggregate. With the cap the
    join is linear in corpus size; without it, quadratic in bucket
    size — safe only when ``num_planes`` is grown ~ log2(N) to hold
    expected bucket size constant (the default here, matching the
    exact-pairs contract the oracle checks). A capped run can miss
    pairs whose BOTH members are strided out — acceptable for dedup
    (each surviving stride member still represents its neighborhood),
    not for an exhaustive pair audit."""
    # Per-row norm is computed ONCE before the self-join — inside the
    # join each vector's self-dot would be recomputed per PAIR (~bucket
    # size times). Same arithmetic (sqrt of the same fold), so the
    # rounded cosine is bit-identical to the naive form.
    # fan_out: the per-row plane projections + norms serialize on one
    # task when the scan is row-group-bound; no-op at real input sizes.
    _dd = f"cast({_q(vec_col)} as array<double>)"
    bucketed = with_lsh_bucket(fan_out(emb, id_col), num_planes, vec_col).withColumn(
        # single-parse SQL form of sqrt(dot(d, d)): the Column-arg dot
        # builds zip_with/aggregate lambdas operator-by-operator over
        # py4j (~0.1-0.2s per call site at construction time)
        "_norm", F.expr(f"sqrt({_sql_dot(_dd, _dd)})")
    )
    if max_bucket is not None:
        from pyspark import StorageLevel

        bucketed = bucketed.persist(StorageLevel.MEMORY_AND_DISK)
        bsize = bucketed.groupBy("bucket").agg(F.count("*").alias("_bn"))
        stride = F.greatest(
            F.ceil(F.col("_bn") / F.lit(max_bucket)), F.lit(1)
        ).cast("long")
        u = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        bucketed = (
            bucketed.join(F.broadcast(bsize), "bucket")
            .filter(u % stride == 0)
            .drop("_bn")
        )
    a = bucketed.select(
        F.col("bucket"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("_norm").alias("na"),
    )
    b = bucketed.select(
        F.col("bucket"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("_norm").alias("nb"),
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(
                "round(" + _sql_dot(
                    "cast(va as array<double>)", "cast(vb as array<double>)"
                ) + " / (na * nb), 6)"
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ann_recall(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the sign-LSH ANN path against the exact cosine
    baseline, per query point — the evaluation harness an ANN deployment
    needs before trading exactness for bucket pruning.

    One scored frame (corpus x broadcast query panel — the |panel| is a
    small constant, so the cost is a fixed multiple of one corpus scan)
    feeds BOTH rankings: exact = rank over everything, approx = rank
    over same-bucket rows only; recall = |approx∩exact| / k. Ranking is
    on the 6-dp-rounded cosine with id tie-break, so both engines order
    identically."""
    bucketed = with_lsh_bucket(emb, num_planes, vec_col)
    panel = bucketed.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("_qv"),
        F.col("bucket").alias("_qb"),
    )
    from streaming_demos_spark.catalog import bounded_persist

    # the scored frame feeds BOTH rankings and the approx top-k feeds
    # two aggregates — persist each so cosines compute once (same
    # treatment as ann_recall_ivf)
    scored = bounded_persist(
        bucketed.crossJoin(F.broadcast(panel))
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            id_col,
            F.round(cosine(vec_col, "_qv"), 6).alias("cos_sim"),
            (F.col("bucket") == F.col("_qb")).alias("same_bucket"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc(id_col))
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col)
    )
    approx = bounded_persist(
        scored.filter("same_bucket")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col)
    )
    hits = exact.join(approx, ["qid", id_col]).groupBy("qid").agg(
        F.count("*").alias("n_hit")
    )
    n_approx = approx.groupBy("qid").agg(F.count("*").alias("n_approx"))
    return (
        panel.select("qid")
        .join(n_approx, "qid", "left")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_approx", F.lit(0)).alias("n_approx"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.lit(k), 4).alias("recall_at_k"),
        )
    )


def ann_recall_lift(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_planes: int = 4,
    num_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of single-table vs multi-table ("OR construction") LSH
    against the exact ranking, per query — the measurement that
    justifies paying T× candidate volume for exponentially fewer misses.

    ONE scored frame (corpus × broadcast panel) carries per-table match
    flags; three rankings share it: exact (no filter), single-table
    (bucket_0 match), multi-table (ANY bucket match, which IS the
    deduped union of the per-table candidate sets — a row matching two
    tables appears once). ``lift`` = recall_multi − recall_single ≥ 0
    pointwise, because every single-table candidate is also a
    multi-table candidate."""
    bucketed = with_lsh_buckets(emb, num_planes, num_tables, vec_col)
    bcols = [f"bucket_{t}" for t in range(num_tables)]
    panel = bucketed.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("_qv"),
        *[F.col(b).alias(f"_q{b}") for b in bcols],
    )
    match_any = None
    for b in bcols:
        m = F.col(b) == F.col(f"_q{b}")
        match_any = m if match_any is None else (match_any | m)
    scored = (
        bucketed.crossJoin(F.broadcast(panel))
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            id_col,
            F.round(cosine(vec_col, "_qv"), 6).alias("cos_sim"),
            (F.col("bucket_0") == F.col("_qbucket_0")).alias("m_single"),
            match_any.alias("m_multi"),
        )
    )
    # ONE window pass computes all three rankings: the exact rank is
    # row_number; a candidate's rank WITHIN the filtered (m_single /
    # m_multi) ordering equals the running count of flagged rows up to
    # itself — no per-flavor re-sort, no candidate-set joins. The whole
    # measurement is 1 window shuffle + 1 groupBy (was 3 windows + 2
    # joins over the re-scored corpus).
    worder = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc(id_col))
    wsum = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = scored.select(
        "qid",
        F.row_number().over(worder).alias("rnk_exact"),
        F.sum(F.col("m_single").cast("int")).over(wsum).alias("rnk_single"),
        F.sum(F.col("m_multi").cast("int")).over(wsum).alias("rnk_multi"),
        "m_single",
        "m_multi",
    )
    recalls = (
        ranked.filter(F.col("rnk_exact") <= k)
        .groupBy("qid")
        .agg(
            F.round(
                F.sum(
                    (F.col("m_single") & (F.col("rnk_single") <= k)).cast("int")
                )
                / F.lit(k),
                4,
            ).alias("recall_single"),
            F.round(
                F.sum(
                    (F.col("m_multi") & (F.col("rnk_multi") <= k)).cast("int")
                )
                / F.lit(k),
                4,
            ).alias("recall_multi"),
        )
    )
    return (
        panel.select("qid")
        .join(recalls, "qid", "left")
        .select(
            "qid",
            F.coalesce("recall_single", F.lit(0.0)).alias("recall_single"),
            F.coalesce("recall_multi", F.lit(0.0)).alias("recall_multi"),
            F.round(
                F.coalesce("recall_multi", F.lit(0.0))
                - F.coalesce("recall_single", F.lit(0.0)),
                4,
            ).alias("lift"),
        )
    )


def ann_recall_ivf(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the IVF path against the exact cosine baseline, per
    query — the companion harness to ``ann_recall`` (sign-LSH): same
    one-scored-frame design, but approx membership is "assigned cell is
    one of the query's nprobe probed cells" instead of bucket equality.
    Comparing the two harnesses on the same panel is how an ANN
    deployment picks its pruning family and tunes nprobe.
    """
    centroids = emb.filter(F.col(id_col) < n_centroids)
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    panel = emb.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv")
    )
    wprobe = Window.partitionBy("qid").orderBy(
        F.desc("_pcos"), F.asc("centroid_id")
    )
    probes = (
        centroids.crossJoin(F.broadcast(panel))
        .select(
            "qid",
            F.col(id_col).alias("centroid_id"),
            F.round(cosine(vec_col, "_qv"), 6).alias("_pcos"),
        )
        .withColumn("_rn", F.row_number().over(wprobe))
        .filter(F.col("_rn") <= nprobe)
        .select("qid", "centroid_id")
    )
    from streaming_demos_spark.catalog import bounded_persist

    # the cosine-scored (corpus x panel) frame feeds BOTH the exact
    # and the probed ranking; persist it so the cosines compute once.
    # The filtered approx top-k (<= k rows per query) feeds the hit
    # join and the count — persist that too.
    scored = bounded_persist(
        assigned.crossJoin(F.broadcast(panel))
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            id_col,
            F.round(cosine(vec_col, "_qv"), 6).alias("cos_sim"),
            "centroid_id",
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc(id_col))
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col)
    )
    approx = bounded_persist(
        scored.join(F.broadcast(probes), ["qid", "centroid_id"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col)
    )
    hits = exact.join(approx, ["qid", id_col]).groupBy("qid").agg(
        F.count("*").alias("n_hit")
    )
    n_approx = approx.groupBy("qid").agg(F.count("*").alias("n_approx"))
    return (
        panel.select("qid")
        .join(n_approx, "qid", "left")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_approx", F.lit(0)).alias("n_approx"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.lit(k), 4).alias(
                "recall_at_k"
            ),
        )
    )


def embedding_outliers(
    emb: DataFrame,
    z_threshold: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Norm-based embedding outlier detection: flag vectors whose L2
    norm sits more than ``z_threshold`` sample standard deviations from
    the corpus mean — the cheap sanity gate that catches broken encoder
    outputs (zero vectors, exploded norms, truncated writes) before
    they pollute an index or a dedup pass.

    Map-side norm + one tiny global aggregate broadcast back; ANSI-safe
    via try_divide (a degenerate corpus with constant norms yields NULL
    z and flags nothing). Norms round at 6 dp before the moments so
    engines agree.
    """
    norms = emb.select(
        F.col(id_col),
        F.expr(
            f"round(sqrt({_sql_dot(_q(vec_col), _q(vec_col))}), 6)"
        ).alias("norm"),
    )
    moments = norms.agg(
        F.avg("norm").alias("_mu"),
        F.stddev_samp("norm").alias("_sd"),
    )
    z = F.round(F.try_divide(F.col("norm") - F.col("_mu"), F.col("_sd")), 4)
    return (
        norms.crossJoin(F.broadcast(moments))
        .select(
            id_col,
            "norm",
            z.alias("z"),
            # coalesce: z is NULL when sd=0 (constant norms) — a
            # NULL-able boolean bridges asymmetrically through a
            # pandas comparator (Spark None vs DuckDB NaN), and "no
            # spread" means "no outlier" anyway
            F.coalesce(F.abs(z) > z_threshold, F.lit(False)).alias(
                "is_outlier"
            ),
        )
    )


# --- Product quantization (PQ) / asymmetric-distance ANN ---------------------
#
# The memory-bounded ANN path for corpus sizes where even the IVF cell
# scan can't afford full-precision vectors: each vector is compressed to
# m small codes (here 8 subspaces x 16 codewords = a 32-bit code for a
# 64-dim float vector, a 64x shrink), and queries score candidates with
# a per-subspace lookup table (ADC, Jegou et al. 2011, "Product
# quantization for nearest neighbor search") without ever touching the
# original floats. Spark-first shape: encoding and scoring are pure
# map-side JVM column expressions against LITERAL codebooks (trained
# offline — at scale by `operators.clustering.kmeans_fit` on a sample,
# here deterministic seeded codebooks so a SQL oracle reproduces every
# code bit-for-bit); ranking is TakeOrderedAndProject. Nothing
# shuffles, nothing leaves the JVM.


def pq_codebooks(
    dim: int,
    m: int = 8,
    k: int = 16,
    seed: int = 7,
    scale: float = 0.3,
) -> list[list[list[float]]]:
    """Deterministic codebooks: ``m`` subspaces of ``dim//m`` dims, each
    with ``k`` codewords drawn uniform(-scale, scale) from a seeded
    generator and rounded to 6 dp so the literal text embedded in a SQL
    oracle parses back to the identical double."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rng = np.random.RandomState(seed)
    dsub = dim // m
    return [
        [[round(float(v), 6) for v in rng.uniform(-scale, scale, dsub)] for _ in range(k)]
        for _ in range(m)
    ]


def _packed_codebook_sql(cb: list[list[float]]) -> str:
    """One subspace's codebook as SQL literal text:
    array<struct<n: double, w: array<double>>> with n = ||codeword||^2."""
    return "array(%s)" % ", ".join(
        "struct(%rD as n, array(%s) as w)"
        % (sum(c * c for c in cw), ", ".join(f"{c!r}D" for c in cw))
        for cw in cb
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Compress each vector to ``m`` codes (0-based ints): per subspace,
    the index of the nearest codeword by the argmin-equivalent score
    ||c||^2 - 2*<v_sub, c> (the row-constant ||v_sub||^2 cannot change
    the argmin). Entirely map-side; at write time this runs once and
    the corpus thereafter ships 4-byte codes instead of KB-scale float
    payloads.

    Codegen note: the codebook rides as a PACKED LITERAL of
    (norm, weights) structs and the scores come from transform +
    zip_with/aggregate lambdas — compact generated code that stays
    inside whole-stage codegen. The first cut unrolled 16 codewords x 8
    dims into explicit +-chains per subspace (~1024-node trees), which
    blew past the JIT-friendly method size and cost seconds of
    compilation per query. Fold order still matches a left-to-right SQL
    chain bit-for-bit (0.0 + t0 + t1... ≡ t0 + t1...), so oracles agree.

    Sub-vectors and distance arrays are materialized in intermediate
    projections so each is computed once, not re-derived per reference.
    """
    dsub = len(codebooks[0][0])
    m = len(codebooks)
    # every projection below is a single-parse F.expr (construction-
    # cost note in text.py); the parsed trees are the identical
    # unresolved expressions the old Column-op chains built
    keep = [F.col(c) for c in (keep_cols or [])]
    subs = emb.select(
        F.col(id_col),
        *keep,
        *[
            F.expr(
                f"slice(cast({_q(vec_col)} as array<double>),"
                f" {j * dsub + 1}, {dsub}) AS _s{j}"
            )
            for j in range(m)
        ],
    )

    def _dists(j: int) -> Column:
        return F.expr(
            f"transform({_packed_codebook_sql(codebooks[j])},"
            f" s -> s.n - 2.0D * aggregate(zip_with(_s{j}, s.w,"
            " (x, c) -> x * c), 0.0D, (a, x) -> a + x))"
        )

    keep_names = [F.col(c) for c in (keep_cols or [])]
    dists = subs.select(
        F.col(id_col), *keep_names, *[_dists(j).alias(f"_d{j}") for j in range(m)]
    )
    return dists.select(
        F.col(id_col),
        *keep_names,
        *[
            F.expr(
                f"cast(array_position(_d{j}, array_min(_d{j})) - 1 as int)"
                f" AS code_{j}"
            )
            for j in range(m)
        ],
    )


def pq_adc_lut(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """Asymmetric-distance lookup tables: lut[j][c] = ||q_sub - c||^2,
    computed driver-side (m*k doubles — trivially broadcastable)."""
    dsub = len(codebooks[0][0])
    luts = []
    for j, cb in enumerate(codebooks):
        q = query_vec[j * dsub : (j + 1) * dsub]
        luts.append(
            [round(sum((qi - ci) ** 2 for qi, ci in zip(q, cw)), 9) for cw in cb]
        )
    return luts


def pq_adc_topk(
    emb: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ/ADC approximate top-k for a literal query vector: encode rows
    (map-side), score each as the sum of per-subspace LUT entries, take
    the ``k`` smallest approximate distances (rounded 6 dp, id
    tie-break). One scan, zero shuffles, TakeOrderedAndProject ranking.

    In a deployed index the ``pq_encode`` projection is materialized at
    write time and this query never reads the float column at all —
    the scan cost drops to the 4-byte codes."""
    coded = pq_encode(emb, codebooks, id_col=id_col, vec_col=vec_col)
    luts = pq_adc_lut(query_vec, codebooks)
    # whole ADC sum as one parse (construction-cost note in text.py)
    acc = F.expr(
        " + ".join(
            "element_at(array(%s), code_%d + 1)"
            % (", ".join(f"{x!r}D" for x in lut), j)
            for j, lut in enumerate(luts)
        )
    )
    return (
        coded.select(F.col(id_col), F.round(acc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def pq_recall(
    emb: DataFrame,
    query_ids: list[int],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the PQ/ADC ranking against the exact squared-L2
    baseline, per panel query — the compression-family member of the
    recall harness (``ann_recall`` = sign-LSH, ``ann_recall_ivf`` =
    cell pruning; this one measures what the 64x payload shrink costs
    in ranking quality, the number that sizes m and k_codewords).

    One scored frame carries BOTH distances: the true distance from the
    raw vectors and the ADC distance from the row's codes against the
    query's subvectors. Broadcast panel, two windows over the same
    frame, intersection count — no second scan.
    """
    dsub = len(codebooks[0][0])
    coded = pq_encode(emb, codebooks, id_col=id_col, vec_col=vec_col,
                      keep_cols=[vec_col])
    panel = emb.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv")
    )
    # single-parse forms (construction-cost note in text.py): the old
    # per-subspace Column-op chains cost ~50 ms of py4j round trips
    # each to build; the parsed trees are identical
    qd = "cast(_qv as array<double>)"
    vd = f"cast({_q(vec_col)} as array<double>)"
    true_d = F.expr(
        f"round(aggregate(zip_with({vd}, {qd}, (x, y) -> (x - y) * (x - y)),"
        " 0.0D, (a, x) -> a + x), 6)"
    )
    adc = F.expr(
        " + ".join(
            f"aggregate(zip_with(slice({qd}, {j * dsub + 1}, {dsub}),"
            f" element_at({_packed_codebook_sql(cb)}, code_{j} + 1).w,"
            " (x, c) -> (x - c) * (x - c)), 0.0D, (a, x) -> a + x)"
            for j, cb in enumerate(codebooks)
        )
    )
    from streaming_demos_spark.catalog import bounded_persist

    # both rankings read this frame — persist so the two F.aggregate
    # distance folds compute once per row (same treatment as the
    # other recall harnesses)
    scored = bounded_persist(
        coded.crossJoin(F.broadcast(panel))
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            F.col(id_col),
            true_d.alias("true_d"),
            F.round(adc, 6).alias("adc_d"),
        )
    )
    w_true = Window.partitionBy("qid").orderBy(F.asc("true_d"), F.asc(id_col))
    w_adc = Window.partitionBy("qid").orderBy(F.asc("adc_d"), F.asc(id_col))
    exact = (
        scored.withColumn("_r", F.row_number().over(w_true))
        .filter(F.col("_r") <= k)
        .select("qid", id_col)
    )
    approx = (
        scored.withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= k)
        .select("qid", id_col)
    )
    hits = exact.join(approx, ["qid", id_col]).groupBy("qid").agg(
        F.count("*").alias("n_hit")
    )
    return (
        panel.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.lit(k), 4).alias(
                "recall_at_k"
            ),
        )
    )


def mmr_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 5,
    lam: float = 0.7,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick the candidate maximizing
    ``lam * relevance - (1 - lam) * max_sim_to_already_selected`` — the
    retrieval-side answer to near-duplicate result lists.

    Scale shape — pool-then-diversify: relevance scoring + pool
    selection is the distributed part (map-side cosine,
    TakeOrderedAndProject down to ``pool`` rows); the greedy selection
    is inherently sequential and runs driver-side over the BOUNDED pool
    (k·pool rounded dot products — same bounded-collect contract as
    ``exact_kth_smallest``'s histogram). A naive lazy-plan formulation
    would embed the pool subtree 2^k times; the bounded collect keeps
    the plan linear and the driver work O(k·pool·dim).

    All similarities round at 6 dp before comparison (engine parity);
    ties break on the id. Step 1's mmr score is its relevance.
    """
    beta = 1.0 - lam
    qlit = F.expr("array(%s)" % ", ".join(f"{x!r}D" for x in query_vec))
    pooled = (
        emb.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
            F.round(cosine(F.col(vec_col), qlit), 6).alias("relevance"),
        )
        .orderBy(F.desc("relevance"), F.asc(id_col))
        .limit(pool)
    )
    rows = pooled.collect()

    def _cos(a: list[float], b: list[float]) -> float:
        num = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            num += x * y
            na += x * x
            nb += y * y
        return round(num / ((na ** 0.5) * (nb ** 0.5)), 6)

    selected: list[tuple[int, object, float, float]] = []
    chosen_vecs: list[list[float]] = []
    avail = {r[id_col]: r for r in rows}
    for step in range(1, k + 1):
        best = None
        for rid, r in avail.items():
            if step == 1:
                score = r["relevance"]
            else:
                maxsim = max(_cos(r["_v"], sv) for sv in chosen_vecs)
                score = round(lam * r["relevance"] - beta * maxsim, 6)
            cand = (-score, rid)
            if best is None or cand < best[0]:
                best = (cand, rid, score)
        if best is None:
            break
        _, rid, score = best
        r = avail.pop(rid)
        selected.append((step, rid, r["relevance"], score))
        chosen_vecs.append(r["_v"])
    spark = emb.sparkSession
    return spark.createDataFrame(
        selected, f"step int, {id_col} long, relevance double, mmr double"
    )


def contrastive_triplets(
    emb: DataFrame,
    pos_threshold: float = 0.3,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 200,
) -> DataFrame:
    """Anchor/positive/hard-negative triplet mining for embedding-model
    training data: within each LSH bucket, every vector's most-similar
    neighbor at cosine >= ``pos_threshold`` becomes its positive, and
    its most-similar neighbor BELOW the threshold its hard negative —
    the "close but not a match" example contrastive losses need.
    Anchors missing either side are dropped.

    Plan shape: the bounded within-bucket self-join (same contract as
    ``embedding_near_dup_pairs`` — never all-pairs; hard negatives are
    hard precisely BECAUSE they share the anchor's bucket), then ONE
    doc-keyed combinable aggregation: both argmaxes are conditional
    ``max(struct(cos, id))`` folds, so no per-anchor window or second
    shuffle exists. Ties on the 6-dp-rounded cosine break to the higher
    neighbor id, deterministically in any engine.

    The CANDIDATE side of the join is thinned to ~``max_bucket``
    vectors per bucket by a deterministic hash-stride filter: keep a
    candidate iff ``md5_uniform(id) % ceil(bucket_size/max_bucket) ==
    0``. Join fan-out is then ``|anchors| * O(max_bucket)`` — linear in
    corpus size, never quadratic in bucket size (a 10x probe without
    any cap measured 82x wall-clock: 16 fixed buckets going 10x fatter
    = 100x pairs). The stride filter is map-side (bucket sizes are a
    2^planes-row broadcast aggregate) — unlike a row_number cap it
    adds NO per-bucket sort, which at few-bucket settings would
    serialize on 2^planes tasks. At real scale also grow
    ``num_planes`` ~ log2(N) to hold expected bucket size constant —
    the same policy as semantic dedup's k ~ N.
    """
    from pyspark import StorageLevel

    _dd = f"cast({_q(vec_col)} as array<double>)"
    bucketed = (
        with_lsh_bucket(fan_out(emb, id_col), num_planes, vec_col)
        .withColumn("_norm", F.expr(f"sqrt({_sql_dot(_dd, _dd)})"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = bucketed.select(
        "bucket",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("_norm").alias("na"),
    )
    bsize = bucketed.groupBy("bucket").agg(F.count("*").alias("_bn"))
    stride = F.greatest(
        F.ceil(F.col("_bn") / F.lit(max_bucket)), F.lit(1)
    ).cast("long")
    u = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    b = (
        bucketed.join(F.broadcast(bsize), "bucket")
        .filter(u % stride == 0)
        .select(
            "bucket",
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            F.col("_norm").alias("nb"),
        )
    )
    pairs = (
        a.join(b, on="bucket")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(
                "round(" + _sql_dot(
                    "cast(va as array<double>)", "cast(vb as array<double>)"
                ) + " / (na * nb), 6)"
            ).alias("cos_r"),
        )
    )
    best = F.struct(F.col("cos_r"), F.col("id_b"))
    agg = pairs.groupBy(F.col("id_a").alias("anchor_id")).agg(
        F.max(F.when(F.col("cos_r") >= pos_threshold, best)).alias("_p"),
        F.max(F.when(F.col("cos_r") < pos_threshold, best)).alias("_n"),
    )
    return (
        agg.filter(F.col("_p").isNotNull() & F.col("_n").isNotNull())
        .select(
            "anchor_id",
            F.col("_p.id_b").alias("pos_id"),
            F.col("_p.cos_r").alias("pos_cos"),
            F.col("_n.id_b").alias("neg_id"),
            F.col("_n.cos_r").alias("neg_cos"),
        )
        .orderBy("anchor_id")
    )


# --- random projection (Johnson-Lindenstrauss dimensionality reduction) ------


def rp_signs(in_dim: int, out_dim: int) -> list[list[float]]:
    """Deterministic ±1 projection matrix (Achlioptas sign variant of
    Johnson-Lindenstrauss): sign(i, j) = +1 iff the first hex digit of
    md5(f"rp:{i}:{j}") >= '8'. Derived driver-side with hashlib so the
    SQL oracle (and any other engine) reproduces it bit-for-bit — the
    same convention as ``_plane_signs``."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()[0] >= "8"
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    emb: DataFrame,
    in_dim: int,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dp: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection of an embedding column to
    ``out_dim`` dims: y_j = (1/sqrt(out_dim)) * sum_i x_i * s_ij with a
    deterministic ±1 sign matrix (``rp_signs``).

    Scale posture: the sign matrix is in_dim x out_dim driver-side
    literals folded into codegen; the projection itself is a map-ONLY
    sequential fold per output dim (``aggregate(zip_with(...))``) — zero
    shuffle, zero Python, and JL guarantees pairwise distances are
    preserved within (1 +- eps) for out_dim = O(log n / eps^2), which is
    what makes downstream ANN/bucketing cheaper at 100 TB (8 dims
    scanned instead of 768+).

    Output is long-form scalar rows ``(id, dim_idx, value)`` so hash
    comparison and columnar storage both stay trivial.
    """
    signs = rp_signs(in_dim, out_dim)
    scale = 1.0 / (out_dim ** 0.5)
    v = _as_double(F.col(vec_col))
    projections = F.array(
        *[
            (
                F.aggregate(
                    F.zip_with(
                        v,
                        # one py4j round trip per row (see _sign_array_lit)
                        _sign_array_lit(signs[j]),
                        lambda e, s: e * s,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                * F.lit(scale)
            )
            for j in range(out_dim)
        ]
    )
    return (
        emb.select(F.col(id_col), F.posexplode(projections).alias("dim_idx", "_v"))
        .select(id_col, "dim_idx", F.round(F.col("_v"), dp).alias("value"))
        .orderBy(id_col, "dim_idx")
    )


# --- int8 scalar quantization ------------------------------------------------


def quantize_embeddings_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dp: int = 9,
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the cheap
    4x-compression storage path for embedding columns (PQ's 32-bit
    codes are the aggressive alternative; int8 keeps dot products
    usable directly): ``scale = max|x| / 127``, ``q_i = round(x_i /
    scale)`` in [-127, 127], reconstruction ``q_i * scale``.

    Map-ONLY plan (zero shuffle): everything is per-row array
    arithmetic in codegen. Returns per-vector quantization quality —
    ``(id, scale, rmse, max_abs_err)`` — the pre-flight a pipeline runs
    before committing the corpus to int8 storage. Zero vectors quantize
    to all-zeros (scale floor epsilon), not a divide-by-zero.
    """
    v = _as_double(F.col(vec_col))
    scale = F.greatest(
        F.array_max(F.transform(v, F.abs)), F.lit(1e-12)
    ) / F.lit(127.0)
    deq = F.transform(v, lambda x: F.round(x / F.col("_scale")) * F.col("_scale"))
    err = F.zip_with(v, F.col("_deq"), lambda a, b: F.abs(a - b))
    n = F.size(v)
    return (
        emb.withColumn("_scale", scale)
        .withColumn("_deq", deq)
        .withColumn("_err", err)
        .select(
            F.col(id_col),
            F.round(F.col("_scale"), dp).alias("scale"),
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.col("_err"), F.lit(0.0), lambda acc, x: acc + x * x
                    )
                    / n
                ),
                dp,
            ).alias("rmse"),
            F.round(F.array_max(F.col("_err")), dp).alias("max_abs_err"),
        )
        .orderBy(id_col)
    )


# --- embedding pooling -------------------------------------------------------


def pool_embeddings(
    emb: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    dp: int = 6,
) -> DataFrame:
    """Mean-pool embeddings per group — the chunk->document /
    class->centroid aggregation step of every embedding pipeline
    (pooled chunk vectors become the doc vector; per-label means are
    the nearest-centroid classifier).

    Long-form plan: posexplode to (group, dim_idx, value), ONE
    combinable avg per (group, dim) — map-side partial aggregation does
    the heavy lifting and no executor ever materializes a group's
    vectors together (a collect_list-then-average would). Returns
    scalar rows ``(group, dim_idx, value, n_members)``.
    """
    exploded = emb.select(
        F.col(group_col),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim_idx", "_v"),
    )
    return (
        exploded.groupBy(group_col, "dim_idx")
        .agg(
            F.round(F.avg("_v"), dp).alias("value"),
            F.count("*").alias("n_members"),
        )
        .orderBy(group_col, "dim_idx")
    )


def knn_label_noise(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    num_planes: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Label-noise screening via k-NN label disagreement: for each
    vector, the fraction of its k nearest same-bucket neighbors (by
    exact cosine) carrying a DIFFERENT label. High disagreement marks
    probable mislabels / outliers — the standard embedding-space
    data-quality probe (Confident-Learning-style, neighborhood voting).

    Neighborhoods are sign-LSH-bucket-local, which is what makes the
    operator scale: the self-join is within-bucket (never all-pairs),
    and ``num_planes`` grows ~log2(N) to hold expected bucket size
    constant — identical posture to ``embedding_near_dup_pairs``.
    Rankings use the ROUNDED cosine with a neighbor-id tie-break, so
    the k-set is engine-replayable. Per-row norms are computed once
    before the join. Vectors alone in their bucket emit n_neighbors=0
    with NULL disagreement (try_divide), never a crash.
    """
    _dd = f"cast({_q(vec_col)} as array<double>)"
    b = with_lsh_bucket(
        fan_out(emb.select(id_col, vec_col, label_col), id_col),
        num_planes,
        vec_col,
    ).withColumn("_norm", F.expr(f"sqrt({_sql_dot(_dd, _dd)})"))
    a = b.select(
        F.col("bucket"),
        F.col(id_col).alias("_aid"),
        F.col(vec_col).alias("_av"),
        F.col(label_col).alias("_albl"),
        F.col("_norm").alias("_an"),
    )
    n = b.select(
        F.col("bucket"),
        F.col(id_col).alias("_nid"),
        F.col(vec_col).alias("_nv"),
        F.col(label_col).alias("_nlbl"),
        F.col("_norm").alias("_nn"),
    )
    cos = F.expr(
        "round(try_divide(" + _sql_dot(
            "cast(_av as array<double>)", "cast(_nv as array<double>)"
        ) + ", _an * _nn), 6)"
    )
    pairs = (
        a.join(n, "bucket")
        .filter(F.col("_aid") != F.col("_nid"))
        .withColumn("_cos", cos)
    )
    w = Window.partitionBy("_aid").orderBy(
        F.desc("_cos"), F.asc("_nid")
    )
    topk = pairs.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    agg = topk.groupBy(
        F.col("_aid").alias(id_col), F.col("_albl").alias(label_col)
    ).agg(
        F.count("*").alias("n_neighbors"),
        F.round(
            F.avg((F.col("_nlbl") != F.col("_albl")).cast("double")),
            round_dp,
        ).alias("disagree_frac"),
    )
    # left join back so singleton-bucket vectors appear with 0 neighbors
    base = b.select(id_col, label_col)
    return base.join(agg, [id_col, label_col], "left").select(
        id_col,
        label_col,
        F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"),
        "disagree_frac",
    )


def whiten_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 1e-6,
    round_dp: int = 9,
) -> DataFrame:
    """ZCA-whiten an embedding column: subtract the corpus mean and
    rotate by ``C^{-1/2}`` so components are decorrelated with unit
    variance — the standard retrieval post-processing that removes the
    dominant-direction bias of learned embeddings.

    Distributed the same way as truncated SVD (`tfidf.gram_matrix`):
    the D-vector mean and D×D covariance reach the driver as partition
    partial sums (never rows), the inverse square root is a driver-side
    ``eigh`` of the tiny D×D (eigenvalues floored at ``eps`` so
    near-singular directions don't explode), and the transform itself
    is a map-only Arrow-batched projection. Sign conventions inherit
    from ``eigh`` deterministically (the rotation is symmetric, so no
    per-column sign fix is needed). Non-SQL-expressible — verified by
    numpy parity tests, not a DuckDB oracle.
    """
    import numpy as np
    from pyspark.sql import types as T

    d_vec = _as_double(F.col(vec_col))
    src = emb.select(F.col(id_col), d_vec.alias("_v")).persist()

    def partial(it):
        n, s, g = 0, None, None
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            n += X.shape[0]
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            g = X.T @ X if g is None else g + X.T @ X
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )
    parts = src.select("_v").mapInPandas(partial, schema).collect()
    if not parts:
        raise ValueError("whiten_embeddings: empty input")
    n = sum(r.n for r in parts)
    s = np.sum([np.asarray(r.s) for r in parts], axis=0)
    g = np.sum([np.asarray(r.g) for r in parts], axis=0)
    d = int(np.sqrt(g.size))
    mu = s / n
    cov = g.reshape(d, d) / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    w_mat = vecs @ np.diag(1.0 / np.sqrt(np.maximum(vals, eps))) @ vecs.T
    # Component grid (see tfidf.svd_components): snap the driver-side
    # (mu, W) to 1e-6 so every task layout — and the independent numpy
    # reference (functions/numpy_ref.py) — projects against the
    # bit-identical matrices. ZCA's W is symmetric in eigenvector sign,
    # so no sign convention is needed.
    mu, w_mat = np.round(mu, 6), np.round(w_mat, 6)

    @F.pandas_udf("array<double>")
    def project(vs: pd.Series) -> pd.Series:
        X = np.stack(vs.to_numpy()).astype(np.float64)
        return pd.Series(list(((X - mu) @ w_mat).round(round_dp)))

    return src.select(id_col, project("_v").alias("whitened"))


def matryoshka_recall(
    emb: DataFrame,
    query_ids: list[int],
    dims: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of TRUNCATED-dimension cosine ranking against the
    full-dimension ranking — the evaluation behind Matryoshka-style
    embeddings (Kusupati et al. 2022), where serving at a prefix of
    the dimensions buys memory/speed at a measured recall cost.

    ONE scored frame for ALL requested dims (corpus x broadcast query
    panel, exploded by dim, sliced-cosine per row, one (qid, dim)
    window): ranking is on the 6dp-rounded sliced cosine with id
    tie-break (both engines order identically); ground truth is the
    full-dim ranking computed once from the same base frame and
    broadcast into the candidate join (n_queries*k rows). Round-10
    restatement of the per-dim loop: the old plan re-aggregated the
    base frame once per dim (4 window + 3 join/agg exchanges each,
    28 total at dims=[8,16,32,64]); this one does the identical math
    in ~5 exchanges — the vocab_growth treatment. Output one row per
    dim: (dim, n_queries, avg_recall).
    """
    panel = emb.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv")
    )
    base = (
        emb.crossJoin(F.broadcast(panel))
        .filter(F.col(id_col) != F.col("qid"))
        .select("qid", id_col, F.col(vec_col).alias("_v"), "_qv")
    )

    def sliced_cos(d):
        return F.round(
            cosine(F.slice(F.col("_v"), F.lit(1), d),
                   F.slice(F.col("_qv"), F.lit(1), d)),
            6,
        )

    full_dim = emb.select(F.size(F.col(vec_col)).alias("_d")).limit(
        1
    ).collect()[0]["_d"]
    # Ground truth: one plain-column pass at the full dimension
    # (no explode), ranked per qid. Bounded at n_queries * k rows —
    # broadcast into the candidate join below.
    w_truth = Window.partitionBy("qid").orderBy(
        F.desc("_cos"), F.asc(id_col)
    )
    truth = (
        base.select("qid", id_col, sliced_cos(F.lit(full_dim)).alias("_cos"))
        .withColumn("_rnk", F.row_number().over(w_truth))
        .filter(F.col("_rnk") <= k)
        .select("qid", id_col)
    )
    # Candidates: every (pair, dim) row in one frame; the window keys
    # on (qid, dim) so ALL per-dim rankings come out of one exchange.
    scored = base.select(
        "qid",
        id_col,
        F.explode(
            F.array(*[F.lit(int(d)) for d in dims])
        ).alias("dim"),
        "_v",
        "_qv",
    ).select("qid", id_col, "dim", sliced_cos(F.col("dim")).alias("_cos"))
    w_cand = Window.partitionBy("qid", "dim").orderBy(
        F.desc("_cos"), F.asc(id_col)
    )
    cand = (
        scored.withColumn("_rnk", F.row_number().over(w_cand))
        .filter(F.col("_rnk") <= k)
        .select("qid", "dim", id_col)
    )
    hits = (
        cand.join(F.broadcast(truth), ["qid", id_col])
        .groupBy("qid", "dim")
        .agg(F.count("*").alias("_hit"))
    )
    # (qid x dim) grid keeps zero-hit queries in the denominator,
    # exactly like the old per-dim left join against the panel.
    dims_df = emb.sparkSession.createDataFrame(
        [(int(d),) for d in dims], "dim int"
    )
    grid = panel.select("qid").crossJoin(F.broadcast(dims_df))
    return grid.join(F.broadcast(hits), ["qid", "dim"], "left").groupBy(
        "dim"
    ).agg(
        F.count("*").alias("n_queries"),
        # (Σ hits / k) / n — exact integer numerator, one fixed
        # division order, so both engines emit identical doubles
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            / F.lit(float(k))
            / F.count("*"),
            6,
        ).alias("avg_recall"),
    )
