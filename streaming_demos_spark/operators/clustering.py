"""Distributed clustering over embedding columns, and the dedup family
built on top of it (SemDeDup-style semantic near-dup removal).

Reference parity: the reference's recommender preprocessing reduces
TF-IDF vectors with a fixed-component SVD (`preprocessor.py:94-97`) and
its serving path scores per-cluster models (`eda_recommender.py` cluster
TS variant, `evaluate.py:80-93` `ClustersTS` candidate); it has no
distributed clustering because it never leaves one box. At 100 TB a
training-data pipeline needs exactly this: coarse k-means cells so every
subsequent pairwise operation (semantic dedup, diversity sampling,
IVF search) touches only within-cell candidates.

Plan shape (the part that must survive a 1000-executor scale-up):

- centroids are always a tiny table (k ~ sqrt(N) at most) → broadcast;
  assignment is a map-side broadcast join + per-row top-1. The corpus
  is never shuffled by anything except its own id.
- a Lloyd update is posexplode + (cluster, component) hash-agg — partial
  aggregation map-side, k·d result rows. No iteration state on
  executors; the driver holds only k·d doubles per round.
- SemDeDup self-joins ONLY within a cell: the equality join on
  cluster_id bounds candidate pairs by the largest cell, never N².

Determinism (oracle-replayable, no RNG): initial centroids are the k
lowest-id vectors; every score is rounded before any comparison that
could flip an ordering, so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_demos_spark.catalog import fan_out
from streaming_demos_spark.functions.sqlfrag import dbl, dot, q
from streaming_demos_spark.operators.similarity import cosine


def _nearest(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    cid_col: str = "_cid",
    cvec_col: str = "_cvec",
) -> DataFrame:
    """Per-row nearest centroid by rounded cosine (centroid-id
    tie-break), as a ZERO-shuffle map: the centroid table (k·d doubles,
    bounded) is packed into a single array-of-structs row, broadcast,
    and each corpus row folds over it with ``array_max`` on a
    (cos, -cid) struct — lexicographic struct max = highest cosine then
    lowest centroid id.

    The earlier join + per-id window shape shuffled N·k rows WITH the
    vector payload attached just to pick a per-row max (the shuffle, not
    the arithmetic, dominated at 10x). Here the corpus never moves.
    Centroid norms are precomputed into the packed struct and the row
    norm into its own projection, so the per-(row, centroid) cost is a
    single dot-product fold."""
    # single-parse forms (construction-cost note in functions/sqlfrag.py).
    # try_divide: zero-norm vectors (or an empty cell's zero centroid)
    # get NULL cosine, not an ANSI job abort.
    cv = f"cast({q(cvec_col)} as array<double>)"
    packed = centroids.select(
        F.expr(
            f"array_sort(collect_list(struct(cast({q(cid_col)} as bigint) AS cid,"
            f" {cv} AS cv, sqrt({dot(cv, cv)}) AS cn))) AS _cents"
        )
    )
    v = f"cast({q(vec_col)} as array<double>)"

    best = F.expr(
        "array_max(transform(_cents, c -> struct("
        f"round(try_divide({dot(v, 'c.cv')}, _vnorm * c.cn), 6) AS cos,"
        " -c.cid AS ncid)))"
    )
    return (
        emb.crossJoin(F.broadcast(packed))
        .withColumn("_vnorm", F.expr(f"sqrt({dot(v, v)})"))
        .withColumn("_best", best)
        .select(
            id_col,
            vec_col,
            (-F.col("_best.ncid")).alias("cluster_id"),
            F.col("_best.cos").alias("centroid_cos"),
        )
    )


def seed_centroids(
    emb: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic seeds: the k lowest-id vectors (ids are assumed
    dense from 0; any engine replays this). Swap in k-means|| seeds in
    production without touching downstream plan shape."""
    return emb.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )


def kmeans_assign(
    emb: DataFrame, k: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Spherical k-means assignment against the seed centroids.
    Output: (vec_id, cluster_id, centroid_cos)."""
    a = _nearest(emb, seed_centroids(emb, k, id_col, vec_col), id_col, vec_col)
    return a.select(id_col, "cluster_id", F.col("centroid_cos").alias("cos_sim"))


def lloyd_step(
    assigned: DataFrame, vec_col: str = "embedding", round_dp: int = 6
) -> DataFrame:
    """One Lloyd update: component-wise mean per cluster.
    posexplode → (cluster, component) hash-agg; k·d output rows. The
    means are rounded to ``round_dp`` so a re-assignment on top of them
    is cross-engine stable."""
    return (
        assigned.select(
            "cluster_id", F.posexplode(F.col(vec_col).cast("array<double>"))
        )
        .groupBy("cluster_id", F.col("pos").alias("component_idx"))
        .agg(F.round(F.avg("col"), round_dp).alias("centroid_value"))
    )


def kmeans_step_centroids(
    emb: DataFrame, k: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Seed-assign then one Lloyd update. Output:
    (cluster_id, component_idx, centroid_value) — k·d scalar rows,
    directly hashable by the driver's canonicalizer."""
    assigned = _nearest(
        emb, seed_centroids(emb, k, id_col, vec_col), id_col, vec_col
    )
    return lloyd_step(assigned, vec_col).orderBy("cluster_id", "component_idx")


def kmeans_two_round_sizes(
    emb: DataFrame, k: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Full Lloyd round proven end-to-end: seed-assign → mean update →
    re-assign against the updated centroids → cluster sizes.

    The updated centroid table is k·d rows collected into an array
    column via collect_list over a sorted struct — still a broadcast
    (k·d doubles). Output: (cluster_id, n_members, mean_cos).
    """
    step = kmeans_step_centroids(emb, k, id_col, vec_col)
    # k·d scalar rows -> k array rows (component order fixed by sort key)
    c1 = step.groupBy("cluster_id").agg(
        F.array_sort(
            F.collect_list(F.struct("component_idx", "centroid_value"))
        ).alias("_pairs")
    ).select(
        F.col("cluster_id").alias("_cid"),
        F.transform("_pairs", lambda p: p["centroid_value"]).alias("_cvec"),
    )
    re = _nearest(emb, c1, id_col, vec_col)
    return (
        re.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("centroid_cos"), 6).alias("mean_cos"),
        )
        .orderBy("cluster_id")
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate removal (Abbas et al.
    2023, arXiv:2303.09540 — public method): cluster the corpus, then
    inside each cluster drop every vector that has a LOWER-id neighbour
    with cosine >= threshold. Pairwise work is bounded by the largest
    cell — the equality join on cluster_id is the whole point; there is
    no corpus-level crossJoin.

    Scale policy: the cost is sum(cell_size^2), so k must grow with the
    corpus to keep cells at a fixed target size (SemDeDup's published
    runs use ~100k clusters for billions of docs). Fixed k on Nx data
    is a deliberate cell-quadratic; measured at 10x: k ~ N holds the
    runtime to ~1.5x while fixed k goes ~N^2 (SCALE.md).

    Output: surviving (vec_id, cluster_id), i.e. the kept exemplars.

    The pairwise test runs on unit-normalized vectors materialized
    BEFORE the self-join (one map-side pass), so each candidate pair
    costs a single dot-product fold instead of three — at 100 TB the
    per-pair constant is the whole cost of this operator. The oracle
    mirrors the normalize-then-dot float path exactly.
    """
    from pyspark import StorageLevel

    v = f"cast({q(vec_col)} as array<double>)"
    # fan_out BEFORE the persisted assignment: the embeddings scan is
    # single-row-group at bench scale and the persist pins its
    # 1-partition layout, so the within-cell pair comparisons below ran
    # on one core regardless of join keying. At real scale the scan has
    # many splits and nothing is inserted. Scoped here (not inside
    # _nearest): the map-only kmeans queries are too cheap to amortize
    # the extra exchange.
    assigned = (
        _nearest(
            fan_out(emb, id_col),
            seed_centroids(emb, k, id_col, vec_col),
            id_col,
            vec_col,
        )
        .select(id_col, vec_col, "cluster_id")
        # norm in its own projection: a fold inside the transform lambda
        # would re-run per element (64x the work) and blow codegen
        .withColumn("_norm", F.expr(f"sqrt({dot(v, v)})"))
        # try_divide: a zero-norm vector (failed encode) becomes a NULL
        # unit component instead of an ANSI DIVIDE_BY_ZERO job abort
        .withColumn("_unit", F.expr(f"transform({v}, x -> try_divide(x, _norm))"))
        .select(id_col, "cluster_id", "_unit")
        # the frame feeds BOTH self-join sides and the final anti-join;
        # without materialization the assign+normalize map re-runs 3x
        # (measured 10x the whole query's cost at bounded cell size).
        # N rows x (id, cid, unit vec) — same footprint the production
        # pipeline would write to storage between stages.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    left = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("_lid"),
        F.col("_unit").alias("_lvec"),
    )
    # Salt the within-cell pair join when cells are FEW (guide §2.5:
    # a join key with k distinct values caps parallelism at k, and AQE
    # then coalesces the tiny-bytes/heavy-CPU exchange to ONE task —
    # profiled 8.4s of per-pair dot products on a single core at k=8).
    # b keeps one deterministic salt, the probe side is replicated to
    # every salt, so each same-cell pair meets exactly once. n_salts
    # derives from the session's shuffle parallelism over k: at
    # production cell counts (SemDeDup uses ~100k cells) it is 1 and
    # the join is untouched — no replication cost at 100 TB.
    try:
        _target = int(
            assigned.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):  # "auto" or unset
        _target = 0
    n_salts = max(1, _target // max(k, 1))
    b = assigned.alias("b")
    join_keys = ["cluster_id"]
    if n_salts > 1:
        b = b.withColumn("_salt", F.pmod(F.col(id_col), F.lit(n_salts)))
        left = left.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
        )
        join_keys = ["cluster_id", "_salt"]
    # b is dominated if some lower-id a in the same cell is >= threshold
    dominated = (
        b.join(left, join_keys)
        .filter(F.col("_lid") < F.col(f"b.{id_col}"))
        .filter(f"round({dot('_lvec', 'b._unit')}, 6) >= {dbl(threshold)}")
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dominated, id_col, "left_anti")
        .select(id_col, "cluster_id")
        .orderBy(id_col)
    )


def filtered_topk(
    emb: DataFrame,
    query_vec_id: int,
    label: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Metadata-filtered exact top-k (the RAG serving shape: ANN under
    a predicate). The label filter is applied BEFORE scoring so it
    pushes to the parquet scan; the query vector is a broadcast 1-row
    side; orderBy+limit plans as TakeOrderedAndProject."""
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_q")
    )
    return (
        emb.filter((F.col(label_col) == label) & (F.col(id_col) != query_vec_id))
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            F.col(label_col),
            F.round(cosine(vec_col, "_q"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# --- IVF index layout --------------------------------------------------------


def write_ivf_index(
    emb: DataFrame,
    path: str,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index as a DIRECTORY LAYOUT: assign every
    vector to its nearest centroid cell, hive-partition the parquet by
    ``cluster_id``. An nprobe query then reads only its probe-cell
    directories — partition pruning at planning time, before any I/O,
    which is what turns the in-plan IVF operator (``ivf_topk``) into a
    storage-level index at 100 TB: the non-probed 1 - nprobe/k of the
    corpus is never listed, opened, or scanned.
    """
    assigned = _nearest(
        emb, seed_centroids(emb, k, id_col, vec_col), id_col, vec_col
    ).select(id_col, vec_col, "cluster_id")
    assigned.write.partitionBy("cluster_id").mode("overwrite").parquet(path)


def read_ivf_cells(spark, path: str, cells: list[int]) -> DataFrame:
    """Scan ONLY the given IVF cells of a ``write_ivf_index`` layout
    (the nprobe read path). The isin filter on the partition column
    becomes a PartitionFilter — directories outside ``cells`` are
    pruned before I/O."""
    return spark.read.parquet(path).filter(F.col("cluster_id").isin(cells))
