"""``llm_*`` keys that compose operators/similarity.py and
operators/clustering.py: exact and approximate (LSH, IVF, PQ) nearest
neighbors, k-means, MMR diversification and embedding transforms.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import clustering as CL
from streaming_demos_spark.operators import similarity as SIM
from streaming_demos_spark.queries import generated, key, values_sql


_SQL_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


@key("llm_ann_cosine_topk", oracle=lambda: f"""
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   {_SQL_COS.format(a="embedding::DOUBLE[]", b="qv")} AS cos_sim
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 10
        """)
def q_ann_cosine_topk(spark, sf_dir):
    # Brute-force exact cosine top-10 vs vec_id=0 (the ANN baseline).
    return SIM.brute_force_topk(_t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


def _sql_lsh_bucket_cte(num_planes: int = 4, num_tables: int = 1) -> str:
    """CTE 'bk': (vec_id, v DOUBLE[], bucket[, bucket_0..]) with the
    same md5-derived sign-LSH planes as operators.similarity.lsh_bucket;
    table t uses the independent plane-set t·P .. t·P+P-1. One table
    keeps the legacy single ``bucket`` column name."""

    def bits(offset: int) -> str:
        return " || ".join(
            f"(CASE WHEN list_sum(list_transform(range(1, len(v)+1), "
            f"j -> v[j] * (CASE WHEN substr(md5('{p}:' || (j-1)::VARCHAR), 1, 1) >= '8' "
            "THEN 1.0 ELSE -1.0 END))) >= 0 THEN '1' ELSE '0' END)"
            for p in range(offset, offset + num_planes)
        )

    if num_tables == 1:
        cols = f"{bits(0)} AS bucket"
    else:
        cols = ", ".join(
            f"{bits(t * num_planes)} AS bucket_{t}" for t in range(num_tables)
        )
    return (
        "ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"bk AS (SELECT vec_id, v, {cols} FROM ev)"
    )


@key("llm_ann_lsh_topk", oracle=lambda: f"""
            WITH {_sql_lsh_bucket_cte(4)},
            q AS (SELECT v AS qv, bucket AS qb FROM bk WHERE vec_id = 0)
            SELECT vec_id,
                   {_SQL_COS.format(a="v", b="qv")} AS cos_sim
            FROM bk, q
            WHERE vec_id <> 0 AND bucket = qb
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 10
        """)
def q_ann_lsh_topk(spark, sf_dir):
    # Sign-LSH bucketed ANN: same query, search only the query's bucket.
    return SIM.lsh_topk(
        _t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10, num_planes=4
    )


@key("llm_ann_ivf_topk", oracle=lambda: f"""
            WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 8),
            assigned AS (
                SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY {_SQL_COS.format(a="e.v", b="c.cv")} DESC,
                                        c.cid ASC
                           ) AS rn
                    FROM ev e CROSS JOIN cent c
                ) WHERE rn = 1
            ),
            q AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
            probe AS (
                SELECT cid FROM cent, q
                ORDER BY {_SQL_COS.format(a="cv", b="qv")} DESC, cid ASC
                LIMIT 2
            )
            SELECT vec_id,
                   {_SQL_COS.format(a="v", b="qv")} AS cos_sim
            FROM assigned JOIN probe USING (cid), q
            WHERE vec_id <> 0
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 10
        """)
def q_ann_ivf_topk(spark, sf_dir):
    # IVF-bucketed ANN: deterministic coarse centroids (lowest 8 ids),
    # probe the 2 nearest cells, exact cosine inside them.
    return SIM.ivf_topk(
        _t(spark, sf_dir, "embeddings"),
        query_vec_id=0, k=10, n_centroids=8, nprobe=2,
    )


@key("llm_ann_recall", oracle=lambda: f"""
            WITH {_sql_lsh_bucket_cte(4)},
            q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb
                  FROM bk WHERE vec_id IN (0, 1, 2, 3, 4)),
            scored AS (
                SELECT q.qid, bk.vec_id,
                       round({_SQL_COS.format(a="bk.v", b="q.qv")}, 6) AS cos_sim,
                       (bk.bucket = q.qb) AS same_bucket
                FROM bk, q WHERE bk.vec_id <> q.qid
            ),
            exact AS (
                SELECT qid, vec_id FROM (
                    SELECT qid, vec_id, row_number() OVER (
                        PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
                    FROM scored) WHERE rnk <= 10
            ),
            approx AS (
                SELECT qid, vec_id FROM (
                    SELECT qid, vec_id, row_number() OVER (
                        PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
                    FROM scored WHERE same_bucket) WHERE rnk <= 10
            ),
            na AS (SELECT qid, count(*) AS n_approx FROM approx GROUP BY 1),
            hit AS (
                SELECT e.qid, count(*) AS n_hit
                FROM exact e JOIN approx a ON e.qid = a.qid AND e.vec_id = a.vec_id
                GROUP BY 1
            )
            SELECT q.qid,
                   COALESCE(na.n_approx, 0) AS n_approx,
                   COALESCE(hit.n_hit, 0) AS n_hit,
                   round(COALESCE(hit.n_hit, 0) / 10.0::DOUBLE, 4) AS recall_at_k
            FROM q LEFT JOIN na ON q.qid = na.qid LEFT JOIN hit ON q.qid = hit.qid
        """)
def q_ann_recall(spark, sf_dir):
    # ANN evaluation harness: recall@10 of the sign-LSH path vs the
    # exact baseline over a 5-query panel — the measurement that
    # justifies (or rejects) the bucket-pruned search at scale.
    return SIM.ann_recall(
        _t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10, num_planes=4
    )


@key("llm_ann_lsh_multi_topk", oracle=lambda: f"""
            WITH {_sql_lsh_bucket_cte(4, num_tables=2)},
            q AS (SELECT v AS qv, bucket_0 AS qb0, bucket_1 AS qb1
                  FROM bk WHERE vec_id = 0)
            SELECT vec_id,
                   {_SQL_COS.format(a="v", b="qv")} AS cos_sim
            FROM bk, q
            WHERE vec_id <> 0 AND (bucket_0 = qb0 OR bucket_1 = qb1)
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 10
        """)
def q_ann_lsh_multi_topk(spark, sf_dir):
    # Multi-table OR construction: candidates from 2 independent
    # plane-sets, unioned + deduped BEFORE the exact-cosine ranking.
    return SIM.lsh_topk_multi(
        _t(spark, sf_dir, "embeddings"),
        query_vec_id=0, k=10, num_planes=4, num_tables=2,
    )


@key("llm_ann_recall_multi", oracle=lambda: f"""
            WITH {_sql_lsh_bucket_cte(4, num_tables=2)},
            q AS (SELECT vec_id AS qid, v AS qv, bucket_0 AS qb0, bucket_1 AS qb1
                  FROM bk WHERE vec_id IN (0, 1, 2, 3, 4)),
            scored AS (
                SELECT q.qid, bk.vec_id,
                       round({_SQL_COS.format(a="bk.v", b="q.qv")}, 6) AS cos_sim,
                       (bk.bucket_0 = q.qb0) AS m_single,
                       (bk.bucket_0 = q.qb0 OR bk.bucket_1 = q.qb1) AS m_multi
                FROM bk, q WHERE bk.vec_id <> q.qid
            ),
            exact AS (
                SELECT qid, vec_id FROM (
                    SELECT qid, vec_id, row_number() OVER (
                        PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
                    FROM scored) WHERE rnk <= 10
            ),
            aps AS (
                SELECT qid, vec_id FROM (
                    SELECT qid, vec_id, row_number() OVER (
                        PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
                    FROM scored WHERE m_single) WHERE rnk <= 10
            ),
            apm AS (
                SELECT qid, vec_id FROM (
                    SELECT qid, vec_id, row_number() OVER (
                        PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
                    FROM scored WHERE m_multi) WHERE rnk <= 10
            ),
            rs AS (SELECT e.qid, round(count(*) / 10.0::DOUBLE, 4) AS recall_single
                   FROM exact e JOIN aps a ON e.qid = a.qid AND e.vec_id = a.vec_id
                   GROUP BY 1),
            rm AS (SELECT e.qid, round(count(*) / 10.0::DOUBLE, 4) AS recall_multi
                   FROM exact e JOIN apm a ON e.qid = a.qid AND e.vec_id = a.vec_id
                   GROUP BY 1)
            SELECT q.qid,
                   COALESCE(rs.recall_single, 0.0::DOUBLE) AS recall_single,
                   COALESCE(rm.recall_multi, 0.0::DOUBLE) AS recall_multi,
                   round(COALESCE(rm.recall_multi, 0.0::DOUBLE)
                         - COALESCE(rs.recall_single, 0.0::DOUBLE), 4) AS lift
            FROM q LEFT JOIN rs ON q.qid = rs.qid LEFT JOIN rm ON q.qid = rm.qid
        """)
def q_ann_recall_multi(spark, sf_dir):
    # Recall lift of the OR construction: per query, recall@10 with 1
    # table vs 2 tables from one scored frame; lift >= 0 pointwise (the
    # multi candidate set contains the single one) and the mean lift is
    # the number that justifies the 2x candidate volume.
    return SIM.ann_recall_lift(
        _t(spark, sf_dir, "embeddings"),
        query_ids=[0, 1, 2, 3, 4], k=10, num_planes=4, num_tables=2,
    )


@key("llm_neardup_embedding", oracle=lambda: f"""
            WITH {_sql_lsh_bucket_cte(4)},
            scored AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       {_SQL_COS.format(a="a.v", b="b.v")} AS cos_sim
                FROM bk a JOIN bk b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            )
            SELECT * FROM scored WHERE cos_sim >= 0.3
            ORDER BY id_a, id_b
        """)
def q_neardup_embedding(spark, sf_dir):
    # Embedding-cosine near-dup pairs within LSH buckets.
    return SIM.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, num_planes=4
    ).orderBy("id_a", "id_b")


def _pq_query_vec() -> list[float]:
    import numpy as np

    rng = np.random.RandomState(11)
    return [round(float(v), 6) for v in rng.uniform(-0.3, 0.3, 64)]


def _sql_mmr(k: int = 5, lam: float = 0.7, pool: int = 50) -> str:
    """DuckDB replay of mmr_topk: pool CTE then k unrolled greedy
    steps, each a correlated max-sim over the union of prior picks."""
    beta = 1.0 - lam
    q = ", ".join(repr(x) for x in _pq_query_vec())
    cos = (
        "round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    parts = [f"""
        pool AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   {cos.format(a="embedding::DOUBLE[]", b=f"[{q}]::DOUBLE[]")}
                       AS relevance
            FROM embeddings
            ORDER BY relevance DESC, vec_id LIMIT {pool}
        ),
        sel1 AS (
            SELECT vec_id, v, relevance, relevance AS mmr
            FROM pool ORDER BY relevance DESC, vec_id LIMIT 1
        )"""]
    for i in range(2, k + 1):
        prior = " UNION ALL ".join(
            f"SELECT vec_id, v FROM sel{j}" for j in range(1, i)
        )
        parts.append(f"""
        sel{i} AS (
            SELECT p.vec_id, p.v, p.relevance,
                   round({lam!r} * p.relevance - {beta!r} * (
                       SELECT max({cos.format(a="p.v", b="s.v")})
                       FROM ({prior}) s
                   ), 6) AS mmr
            FROM pool p
            WHERE p.vec_id NOT IN (SELECT vec_id FROM ({prior}) s2)
            ORDER BY mmr DESC, p.vec_id LIMIT 1
        )""")
    finals = " UNION ALL ".join(
        f"SELECT {i} AS step, vec_id, relevance, mmr FROM sel{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",".join(parts) + f" {finals}"


@key("llm_mmr_diversify", oracle=lambda: _sql_mmr(k=5, lam=0.7, pool=50))
def q_mmr_diversify(spark, sf_dir):
    # MMR diversified retrieval (similarity.py:mmr_topk): top-5 by
    # lam*relevance - (1-lam)*max-sim-to-selected over a distributed
    # TakeOrdered pool of 50, literal query vector.
    return SIM.mmr_topk(
        _t(spark, sf_dir, "embeddings"), _pq_query_vec(), k=5, lam=0.7, pool=50
    )


# PQ/ADC constants shared by the Spark query and its generated oracle:
# deterministic codebooks (8 subspaces x 16 codewords over 64 dims) and
# a literal 64-dim query vector (_pq_query_vec, above). Both sides
# embed the SAME Python floats, and every distance chain is emitted
# left-to-right in both engines, so codes and ADC scores match
# bit-for-bit.
_PQ_CODEBOOKS = SIM.pq_codebooks(64, m=8, k=16, seed=7)


def _sql_pq_topk(k: int = 10) -> str:
    """DuckDB oracle for q_ann_pq_topk, generated from the same
    codebooks/query literals with identical left-to-right chains."""
    cbs = _PQ_CODEBOOKS
    luts = SIM.pq_adc_lut(_pq_query_vec(), cbs)
    dsub = len(cbs[0][0])
    dist_cols, pos_cols, lut_terms = [], [], []
    for j, cb in enumerate(cbs):
        exprs = []
        for cw in cb:
            cnorm = 0.0
            for c in cw:
                cnorm += c * c
            chain = " + ".join(
                f"{c!r} * embedding[{j * dsub + i + 1}]::DOUBLE"
                for i, c in enumerate(cw)
            )
            exprs.append(f"{cnorm!r} - 2.0 * ({chain})")
        dist_cols.append(f"[{', '.join(exprs)}] AS d{j}")
        pos_cols.append(f"list_position(d{j}, list_aggregate(d{j}, 'min')) AS p{j}")
        # cast the indexed element (a DECIMAL list literal in DuckDB)
        # to DOUBLE so the final sum runs in IEEE double like Spark
        lut_terms.append(f"([{', '.join(repr(x) for x in luts[j])}][p{j}])::DOUBLE")
    return f"""
        WITH d AS (
            SELECT vec_id, {', '.join(dist_cols)} FROM embeddings
        ),
        c AS (
            SELECT vec_id, {', '.join(pos_cols)} FROM d
        )
        SELECT vec_id, round({' + '.join(lut_terms)}, 6) AS adc_dist
        FROM c ORDER BY adc_dist, vec_id LIMIT {k}
    """


@key("llm_ann_pq_topk", oracle=lambda: _sql_pq_topk(k=10))
def q_ann_pq_topk(spark, sf_dir):
    # Product-quantization ADC top-k (Jegou et al. 2011): 32-bit codes
    # for 64-dim vectors, per-subspace LUT scoring, zero shuffles
    # (operators/similarity.py:pq_adc_topk).
    return SIM.pq_adc_topk(
        _t(spark, sf_dir, "embeddings"), _pq_query_vec(), _PQ_CODEBOOKS, k=10
    )


def _sql_pq_recall(query_ids: list[int], k: int = 10) -> str:
    """DuckDB oracle for q_ann_recall_pq: same codebook literals, same
    left-to-right chains for codes, true distance and ADC distance."""
    cbs = _PQ_CODEBOOKS
    dsub = len(cbs[0][0])
    dim = dsub * len(cbs)
    dist_cols, pos_cols, sel_cols, adc_terms = [], [], [], []
    for j, cb in enumerate(cbs):
        exprs = []
        for cw in cb:
            cnorm = 0.0
            for c in cw:
                cnorm += c * c
            chain = " + ".join(
                f"{c!r} * embedding[{j * dsub + i + 1}]::DOUBLE"
                for i, c in enumerate(cw)
            )
            exprs.append(f"{cnorm!r} - 2.0 * ({chain})")
        dist_cols.append(f"[{', '.join(exprs)}] AS d{j}")
        pos_cols.append(f"list_position(d{j}, list_aggregate(d{j}, 'min')) AS p{j}")
        wlit = "[%s]" % ", ".join(
            "[%s]" % ", ".join(repr(c) for c in cw) for cw in cb
        )
        sel_cols.append(f"{wlit}[p{j}] AS w{j}")
        adc_terms.append(
            "("
            + " + ".join(
                f"(qe[{j * dsub + i + 1}]::DOUBLE - (w{j}[{i + 1}])::DOUBLE)"
                f" * (qe[{j * dsub + i + 1}]::DOUBLE - (w{j}[{i + 1}])::DOUBLE)"
                for i in range(dsub)
            )
            + ")"
        )
    true_chain = " + ".join(
        f"(c.embedding[{i}]::DOUBLE - qe[{i}]::DOUBLE)"
        f" * (c.embedding[{i}]::DOUBLE - qe[{i}]::DOUBLE)"
        for i in range(1, dim + 1)
    )
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
        WITH d AS (
            SELECT vec_id, embedding, {', '.join(dist_cols)} FROM embeddings
        ),
        cpos AS (
            SELECT vec_id, embedding, {', '.join(pos_cols)} FROM d
        ),
        c AS (
            SELECT vec_id, embedding, {', '.join(sel_cols)} FROM cpos
        ),
        panel AS (
            SELECT vec_id AS qid, embedding AS qe FROM embeddings
            WHERE vec_id IN ({ids})
        ),
        scored AS (
            SELECT p.qid, c.vec_id,
                   round({true_chain}, 6) AS true_d,
                   round({' + '.join(adc_terms)}, 6) AS adc_d
            FROM c CROSS JOIN panel p
            WHERE c.vec_id <> p.qid
        ),
        re AS (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY true_d, vec_id) AS rt,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY adc_d, vec_id) AS ra
            FROM scored
        ),
        h AS (
            SELECT ex.qid, count(*) AS n_hit
            FROM (SELECT qid, vec_id FROM re WHERE rt <= {k}) ex
            JOIN (SELECT qid, vec_id FROM re WHERE ra <= {k}) ap
              USING (qid, vec_id)
            GROUP BY 1
        )
        SELECT p.qid, coalesce(h.n_hit, 0) AS n_hit,
               round(coalesce(h.n_hit, 0) / {k}, 4) AS recall_at_k
        FROM panel p LEFT JOIN h ON p.qid = h.qid
    """


@key("llm_ann_recall_pq", oracle=lambda: _sql_pq_recall([0, 1, 2, 3], k=10))
def q_ann_recall_pq(spark, sf_dir):
    # Recall@10 of the PQ/ADC ranking vs exact squared-L2 on the shared
    # query panel — the compression-family member of the recall harness
    # (similarity.py:pq_recall).
    return SIM.pq_recall(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2, 3], _PQ_CODEBOOKS, k=10
    )


@key("llm_embedding_outliers", oracle="""
            WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            norms AS (
                SELECT vec_id, round(sqrt(list_dot_product(v, v)), 6) AS norm
                FROM ev
            ),
            m AS (SELECT avg(norm) AS mu, stddev_samp(norm) AS sd FROM norms)
            SELECT vec_id, norm,
                   round(CASE WHEN sd > 0 THEN (norm - mu) / sd END, 4) AS z,
                   coalesce(
                       abs(round(CASE WHEN sd > 0
                                 THEN (norm - mu) / sd END, 4)) > 2.0,
                       FALSE) AS is_outlier
            FROM norms, m
        """)
def q_embedding_outliers(spark, sf_dir):
    # Norm z-score outlier gate over the embedding corpus (broken
    # encoder outputs: zero/exploded/truncated vectors).
    return SIM.embedding_outliers(_t(spark, sf_dir, "embeddings"))


@key("llm_ann_recall_ivf", oracle="""
            WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 8),
            assigned AS (
                SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                                        c.cid ASC
                           ) AS rn
                    FROM ev e CROSS JOIN cent c
                ) WHERE rn = 1
            ),
            panel AS (SELECT vec_id AS qid, v AS qv FROM ev
                      WHERE vec_id IN (0, 1, 2, 3, 4)),
            probe AS (
                SELECT qid, cid FROM (
                    SELECT p.qid, c.cid,
                           row_number() OVER (
                               PARTITION BY p.qid
                               ORDER BY round(list_dot_product(c.cv, p.qv) / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(p.qv, p.qv))), 6) DESC,
                                        c.cid ASC
                           ) AS rn
                    FROM cent c CROSS JOIN panel p
                ) WHERE rn <= 2
            ),
            scored AS (
                SELECT p.qid, a.vec_id,
                       round(list_dot_product(a.v, p.qv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cos_sim,
                       a.cid
                FROM assigned a CROSS JOIN panel p
                WHERE a.vec_id <> p.qid
            ),
            exact AS (
                SELECT qid, vec_id FROM (
                    SELECT qid, vec_id, row_number() OVER (
                        PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
                    FROM scored) WHERE rnk <= 10
            ),
            approx AS (
                SELECT qid, vec_id FROM (
                    SELECT s.qid, s.vec_id, row_number() OVER (
                        PARTITION BY s.qid ORDER BY s.cos_sim DESC, s.vec_id) AS rnk
                    FROM scored s JOIN probe pr
                      ON s.qid = pr.qid AND s.cid = pr.cid
                ) WHERE rnk <= 10
            ),
            na AS (SELECT qid, count(*) AS n_approx FROM approx GROUP BY 1),
            hit AS (
                SELECT e.qid, count(*) AS n_hit
                FROM exact e JOIN approx a ON e.qid = a.qid AND e.vec_id = a.vec_id
                GROUP BY 1
            )
            SELECT p.qid,
                   COALESCE(na.n_approx, 0) AS n_approx,
                   COALESCE(hit.n_hit, 0) AS n_hit,
                   round(COALESCE(hit.n_hit, 0) / 10.0::DOUBLE, 4) AS recall_at_k
            FROM panel p LEFT JOIN na ON p.qid = na.qid
            LEFT JOIN hit ON p.qid = hit.qid
        """)
def q_ann_recall_ivf(spark, sf_dir):
    # IVF recall@10 on the same query panel as the LSH harness —
    # pruning-family comparison + nprobe tuning signal.
    return SIM.ann_recall_ivf(
        _t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10
    )


@key("llm_kmeans_assign", oracle=lambda: f"""
            WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 8)
            SELECT vec_id, cid AS cluster_id, _cos AS cos_sim FROM (
                SELECT e.vec_id, c.cid,
                       {_SQL_COS.format(a="e.v", b="c.cv")} AS _cos,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_SQL_COS.format(a="e.v", b="c.cv")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM ev e CROSS JOIN cent c
            ) WHERE rn = 1
            ORDER BY vec_id
        """)
def q_kmeans_assign(spark, sf_dir):
    # Spherical k-means assignment against deterministic seed
    # centroids (k lowest-id vectors, broadcast): the coarse-cell
    # primitive under IVF search and semantic dedup.
    return CL.kmeans_assign(_t(spark, sf_dir, "embeddings"), k=8).orderBy("vec_id")


@key("llm_kmeans_centroids", oracle=lambda: f"""
            WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 8),
            assigned AS (
                SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY {_SQL_COS.format(a="e.v", b="c.cv")} DESC,
                                        c.cid ASC
                           ) AS rn
                    FROM ev e CROSS JOIN cent c
                ) WHERE rn = 1
            )
            SELECT cid AS cluster_id,
                   gs - 1 AS component_idx,
                   round(avg(comp), 6) AS centroid_value
            FROM (SELECT cid, unnest(v) AS comp,
                         generate_subscripts(v, 1) AS gs
                  FROM assigned)
            GROUP BY cid, gs
            ORDER BY cluster_id, component_idx
        """)
def q_kmeans_centroids(spark, sf_dir):
    # One Lloyd update: component-wise means per cluster as k*d scalar
    # rows (posexplode + hash-agg; partial aggregation map-side).
    return CL.kmeans_step_centroids(_t(spark, sf_dir, "embeddings"), k=8)


@key("llm_kmeans_round", oracle=lambda: f"""
            WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 8),
            assigned AS (
                SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY {_SQL_COS.format(a="e.v", b="c.cv")} DESC,
                                        c.cid ASC
                           ) AS rn
                    FROM ev e CROSS JOIN cent c
                ) WHERE rn = 1
            ),
            cent1 AS (
                SELECT cid, list(cval ORDER BY gs) AS cv FROM (
                    SELECT cid, gs, round(avg(comp), 6) AS cval
                    FROM (SELECT cid, unnest(v) AS comp,
                                 generate_subscripts(v, 1) AS gs
                          FROM assigned)
                    GROUP BY cid, gs
                ) GROUP BY cid
            ),
            re AS (
                SELECT vec_id, cid, _cos FROM (
                    SELECT e.vec_id, c.cid,
                           {_SQL_COS.format(a="e.v", b="c.cv")} AS _cos,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY {_SQL_COS.format(a="e.v", b="c.cv")} DESC,
                                        c.cid ASC
                           ) AS rn
                    FROM ev e CROSS JOIN cent1 c
                ) WHERE rn = 1
            )
            SELECT cid AS cluster_id,
                   count(*) AS n_members,
                   round(avg(_cos), 6) AS mean_cos
            FROM re GROUP BY cid ORDER BY cluster_id
        """)
def q_kmeans_round(spark, sf_dir):
    # Full Lloyd round proven end-to-end: seed-assign -> mean update ->
    # re-assign against updated centroids -> cluster sizes.
    return CL.kmeans_two_round_sizes(_t(spark, sf_dir, "embeddings"), k=8)


@key("llm_semantic_dedup", oracle=lambda: f"""
            WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < 8),
            assigned AS (
                SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY {_SQL_COS.format(a="e.v", b="c.cv")} DESC,
                                        c.cid ASC
                           ) AS rn
                    FROM ev e CROSS JOIN cent c
                ) WHERE rn = 1
            ),
            unitized AS (
                SELECT vec_id, cid,
                       list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                           AS u
                FROM assigned
            ),
            dominated AS (
                SELECT DISTINCT b.vec_id
                FROM unitized b JOIN unitized a
                  ON a.cid = b.cid AND a.vec_id < b.vec_id
                WHERE round(list_dot_product(a.u, b.u), 6) >= 0.3
            )
            SELECT vec_id, cid AS cluster_id
            FROM unitized
            WHERE vec_id NOT IN (SELECT vec_id FROM dominated)
            ORDER BY vec_id
        """)
def q_semantic_dedup(spark, sf_dir):
    # SemDeDup-style semantic near-dup removal: pairwise cosine ONLY
    # within k-means cells; drop vectors with a lower-id neighbour
    # above threshold. (0.3 suits this synthetic corpus's cosine
    # range; real corpora run ~0.92-0.95.)
    return CL.semantic_dedup(_t(spark, sf_dir, "embeddings"), k=8, threshold=0.3)


@key("llm_ann_filtered_topk", oracle=lambda: f"""
            WITH ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                        FROM embeddings),
            q AS (SELECT v AS qv FROM ev WHERE vec_id = 0)
            SELECT vec_id, label,
                   {_SQL_COS.format(a="v", b="qv")} AS cos_sim
            FROM ev, q
            WHERE label = 3 AND vec_id <> 0
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 10
        """)
def q_ann_filtered_topk(spark, sf_dir):
    # Metadata-filtered exact top-k (RAG serving shape): label
    # predicate pushed to the scan, broadcast query vector.
    return CL.filtered_topk(
        _t(spark, sf_dir, "embeddings"), query_vec_id=0, label=3, k=10
    )


@key("llm_contrastive_triplets", oracle=lambda: f"""
            WITH {_sql_lsh_bucket_cte(4)},
            bsz AS (SELECT bucket, count(*) AS bn FROM bk GROUP BY 1),
            capped AS (
                SELECT vec_id, v, bk.bucket
                FROM bk JOIN bsz USING (bucket)
                WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT
                      % greatest(cast(ceil(bn / 200.0) AS BIGINT), 1) = 0
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       {_SQL_COS.format(a="a.v", b="b.v")} AS cos_r
                FROM bk a JOIN capped b
                  ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
            ),
            agg AS (
                SELECT id_a AS anchor_id,
                       max(CASE WHEN cos_r >= 0.3
                                THEN [cos_r, id_b::DOUBLE] END) AS p,
                       max(CASE WHEN cos_r < 0.3
                                THEN [cos_r, id_b::DOUBLE] END) AS n
                FROM pairs GROUP BY 1
            )
            SELECT anchor_id,
                   p[2]::BIGINT AS pos_id, p[1] AS pos_cos,
                   n[2]::BIGINT AS neg_id, n[1] AS neg_cos
            FROM agg
            WHERE p IS NOT NULL AND n IS NOT NULL
            ORDER BY anchor_id
        """)
def q_contrastive_triplets(spark, sf_dir):
    # Anchor/positive/hard-negative mining within LSH buckets
    # (similarity.py:contrastive_triplets): bounded self-join + one
    # conditional-argmax aggregation, no window, no second shuffle.
    return SIM.contrastive_triplets(
        _t(spark, sf_dir, "embeddings"), pos_threshold=0.3, num_planes=4
    )


@key("llm_embedding_pool", oracle="""
            WITH e AS (
                SELECT label,
                       generate_subscripts(embedding, 1) - 1 AS dim_idx,
                       unnest(embedding) AS v
                FROM embeddings
            )
            SELECT label, dim_idx,
                   round(avg(CAST(v AS DOUBLE)), 6) AS value,
                   count(*) AS n_members
            FROM e
            GROUP BY label, dim_idx
            ORDER BY label, dim_idx
        """)
def q_embedding_pool(spark, sf_dir):
    # Mean-pool embeddings per label (class centroids / chunk->doc
    # pooling): posexplode + one combinable avg per (label, dim) — no
    # executor ever holds a group's vectors together
    # (similarity.py:pool_embeddings).
    return SIM.pool_embeddings(_t(spark, sf_dir, "embeddings"), "label")


@generated
def _whiten_embeddings_oracle(con, sf):
    """Independent numpy reference for llm_whiten_embeddings (see
    survey._svd_embed_oracle): ZCA whitening of the embeddings
    table."""
    import numpy as np

    from streaming_demos_spark.functions import numpy_ref as NR

    emb = con.sql(
        f"SELECT vec_id, embedding FROM"
        f" read_parquet('{sf}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    eids = [r[0] for r in emb]
    Xe = np.array([r[1] for r in emb], dtype=np.float64)
    mu, W = NR.whitening_transform(Xe)
    white = np.round((Xe - mu) @ W, 6)
    rows = [
        (eids[i], j, white[i, j])
        for i in range(len(eids))
        for j in range(Xe.shape[1])
    ]
    return values_sql(
        rows, "BIGINT", ("vec_id", "component_idx", "value")
    )


@key("llm_whiten_embeddings", oracle=_whiten_embeddings_oracle)
def q_whiten_embeddings(spark, sf_dir):
    # ZCA whitening: mean/covariance via partition partial sums,
    # driver eigh of the DxD, map-only projection. Hash-verified
    # against the independent numpy implementation (functions/
    # numpy_ref.py): (mu, W) are snapped to a 1e-6 grid driver-side
    # (W is sign-invariant — V f(L) V^T), outputs rounded at 6 dp
    # (similarity.py:whiten_embeddings).
    out = SIM.whiten_embeddings(_t(spark, sf_dir, "embeddings"), round_dp=6)
    return out.select(
        "vec_id", F.posexplode("whitened").alias("component_idx", "value")
    )


def _matryoshka_oracle_sql(qids: list[int], dims: list[int], k: int) -> str:
    """Per-dim truncated-cosine recall vs the full-dim ranking, one
    top-k CTE per dim over the shared scored base."""
    qlist = ", ".join(str(q) for q in qids)

    def topk_cte(name: str, d: int) -> str:
        cos = _SQL_COS.format(a=f"v[1:{d}]", b=f"qv[1:{d}]")
        return (
            f"{name} AS MATERIALIZED (SELECT qid, vec_id FROM ("
            f"SELECT qid, vec_id, row_number() OVER ("
            f"PARTITION BY qid ORDER BY {cos} DESC, vec_id) AS rn"
            f" FROM base) WHERE rn <= {k})"
        )

    blocks = []
    for d in dims:
        blocks.append(
            f"SELECT {d} AS dim,"
            f" (SELECT count(*) FROM panel) AS n_queries,"
            f" round((SELECT count(*) FROM truth t"
            f" JOIN top{d} a ON t.qid = a.qid AND t.vec_id = a.vec_id"
            f")::DOUBLE / {float(k)} / (SELECT count(*) FROM panel), 6)"
            f" AS avg_recall"
        )
    ctes = [
        "emb AS MATERIALIZED (SELECT vec_id,"
        " embedding::DOUBLE[] AS v FROM embeddings)",
        f"panel AS MATERIALIZED (SELECT vec_id AS qid, v AS qv"
        f" FROM emb WHERE vec_id IN ({qlist}))",
        "base AS MATERIALIZED (SELECT p.qid, e.vec_id, e.v, p.qv"
        " FROM emb e JOIN panel p ON e.vec_id <> p.qid)",
        topk_cte("truth", 64),
    ] + [topk_cte(f"top{d}", d) for d in dims]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL ".join(blocks)
        + "\nORDER BY dim"
    )


@key("llm_matryoshka_eval", oracle=lambda: _matryoshka_oracle_sql(
            [0, 7, 21, 42, 77], [8, 16, 32, 64], 10
        ))
def q_matryoshka_eval(spark, sf_dir):
    # Recall@10 of truncated-dimension cosine ranking (8/16/32/64 of
    # the 64-dim embeddings) vs the full-dim ranking over a fixed
    # query panel — the Matryoshka serving trade-off curve
    # (similarity.py:matryoshka_recall).
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.matryoshka_recall(
        emb, [0, 7, 21, 42, 77], dims=[8, 16, 32, 64], k=10
    ).orderBy("dim")


@key("llm_knn_label_noise", oracle=lambda: f"""
            WITH {_sql_lsh_bucket_cte(3)},
            lbl AS (
                SELECT bk.vec_id, bk.v, bk.bucket, e.label
                FROM bk JOIN embeddings e USING (vec_id)
            ),
            pairs AS (
                SELECT a.vec_id AS aid, a.label AS albl,
                       n.vec_id AS nid, n.label AS nlbl,
                       {_SQL_COS.format(a="a.v", b="n.v")} AS cos_sim
                FROM lbl a JOIN lbl n
                  ON a.bucket = n.bucket AND a.vec_id <> n.vec_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY aid ORDER BY cos_sim DESC, nid
                ) AS rn
                FROM pairs
            ),
            agg AS (
                SELECT aid, albl, count(*) AS n_neighbors,
                       round(avg(CASE WHEN nlbl <> albl
                                      THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END),
                             6) AS disagree_frac
                FROM ranked WHERE rn <= 5 GROUP BY 1, 2
            )
            SELECT l.vec_id, l.label,
                   coalesce(a.n_neighbors, 0) AS n_neighbors,
                   a.disagree_frac
            FROM lbl l LEFT JOIN agg a
              ON l.vec_id = a.aid AND l.label = a.albl
        """)
def q_knn_label_noise(spark, sf_dir):
    # k-NN label disagreement within LSH buckets: probable mislabels
    # surface as high disagree_frac (similarity.py:knn_label_noise).
    return SIM.knn_label_noise(
        _t(spark, sf_dir, "embeddings"), k=5, num_planes=3
    )


@key("llm_embedding_quantize", oracle="""
            WITH q AS (
                SELECT vec_id, len(embedding) AS n, embedding,
                       greatest(list_max(list_transform(embedding,
                           x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS s
                FROM embeddings
            ),
            e AS (
                SELECT vec_id, n, s,
                       list_transform(embedding,
                           x -> abs(CAST(x AS DOUBLE)
                                    - round(CAST(x AS DOUBLE) / s) * s)) AS errs
                FROM q
            )
            SELECT vec_id,
                   round(s, 9) AS scale,
                   round(sqrt(list_sum(list_transform(errs, x -> x * x)) / n), 9) AS rmse,
                   round(list_max(errs), 9) AS max_abs_err
            FROM e
            ORDER BY vec_id
        """)
def q_embedding_quantize(spark, sf_dir):
    # Symmetric per-vector int8 scalar quantization pre-flight: scale,
    # RMSE and max reconstruction error per vector — map-only, zero
    # shuffle (similarity.py:quantize_embeddings_int8).
    return SIM.quantize_embeddings_int8(_t(spark, sf_dir, "embeddings"))


@key("llm_random_projection", oracle="""
            WITH r AS (
                SELECT i.range AS i, j.range AS j,
                       CASE WHEN substr(md5('rp:' || i.range || ':' || j.range), 1, 1) >= '8'
                            THEN 1.0 ELSE -1.0 END AS s
                FROM range(64) i, range(8) j
            ),
            e AS (
                SELECT vec_id,
                       generate_subscripts(embedding, 1) - 1 AS i,
                       unnest(embedding) AS v
                FROM embeddings
            )
            SELECT e.vec_id, r.j AS dim_idx,
                   round(sum(CAST(e.v AS DOUBLE) * r.s) / sqrt(8.0), 6) AS value
            FROM e JOIN r USING (i)
            GROUP BY e.vec_id, r.j
            ORDER BY e.vec_id, r.j
        """)
def q_random_projection(spark, sf_dir):
    # Johnson-Lindenstrauss ±1 random projection 64 -> 8 dims: the sign
    # matrix is deterministic md5-derived driver literals, the
    # projection a zero-shuffle codegen fold (similarity.py:
    # random_projection). Long-form scalar output (vec_id, dim_idx, v).
    return SIM.random_projection(
        _t(spark, sf_dir, "embeddings"), in_dim=64, out_dim=8
    )
