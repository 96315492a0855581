"""``ext_*`` keys that compose operators/graph.py: PageRank, degree,
k-core, label propagation, link prediction, triangles and
assortativity over the part co-purchase and nation trade graphs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.queries import key


def _trade_edges(spark, sf_dir):
    # Nation-level trade graph: supplier nation -> customer nation,
    # weighted by extended price. The edge build is the at-scale part
    # (lineitem ⋈ orders shuffle join + two broadcast dims).
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
            F.col("l_extendedprice").alias("w"),
        )
    )


@key("ext_pagerank_trade", oracle="""
            WITH e0 AS (
                SELECT s_nationkey AS src, c_nationkey AS dst,
                       sum(l_extendedprice) AS w
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                GROUP BY 1, 2
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
            SELECT n_name AS nation, round(rank, 8) AS rank
            FROM r3 JOIN nation ON node = n_nationkey
        """)
def q_pagerank_trade(spark, sf_dir):
    # Weighted PageRank (3 fixed rounds, d=0.85) on the nation trade
    # graph — per-round join+agg, rank frame localCheckpoint-ed, no
    # driver-side graph state (graph.py:pagerank). Oracle unrolls the
    # identical rounds as CTE layers.
    from streaming_demos_spark.operators import graph as G

    ranks = G.pagerank(
        _trade_edges(spark, sf_dir), "src", "dst", "w", iterations=3
    )
    nation = _t(spark, sf_dir, "nation")
    return ranks.join(
        F.broadcast(nation), ranks["node"] == nation["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        F.round("rank", 8).alias("rank"),
    )


@key("ext_trade_degree", oracle="""
            WITH e0 AS (
                SELECT s_nationkey AS src, c_nationkey AS dst,
                       l_extendedprice AS w
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
            ),
            o AS (
                SELECT src AS node, count(*) AS out_deg, sum(w) AS out_w
                FROM e0 GROUP BY 1
            ),
            i AS (
                SELECT dst AS node, count(*) AS in_deg, sum(w) AS in_w
                FROM e0 GROUP BY 1
            )
            SELECT n_name AS nation,
                   coalesce(out_deg, 0) AS out_deg,
                   coalesce(in_deg, 0) AS in_deg,
                   round(coalesce(out_w, 0), 2) AS out_w,
                   round(coalesce(in_w, 0), 2) AS in_w
            FROM o FULL JOIN i USING (node)
            JOIN nation ON node = n_nationkey
        """)
def q_trade_degree(spark, sf_dir):
    # Degree/strength profile of the same graph: two combinable
    # aggregations full-outer-joined on node (graph.py:degree_profile).
    from streaming_demos_spark.operators import graph as G

    deg = G.degree_profile(_trade_edges(spark, sf_dir), "src", "dst", "w")
    nation = _t(spark, sf_dir, "nation")
    return deg.join(
        F.broadcast(nation), deg["node"] == nation["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        "out_deg",
        "in_deg",
        "out_w",
        "in_w",
    )


@key("ext_link_prediction", oracle="""
            WITH e0 AS (
                SELECT a.l_partkey AS p1, b.l_partkey AS p2
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
            ),
            edges AS (
                SELECT p1, p2 FROM e0 GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            adj AS (
                SELECT p1 AS u, p2 AS z FROM edges
                UNION ALL
                SELECT p2 AS u, p1 AS z FROM edges
            ),
            deg AS (SELECT z, count(*) AS dz FROM adj GROUP BY z),
            mid AS (
                SELECT adj.u, adj.z, deg.dz
                FROM adj JOIN deg USING (z) WHERE deg.dz <= 1000
            ),
            scored AS (
                SELECT l.u AS node_a, r.u AS node_b,
                       count(*) AS common_neighbors,
                       round(sum(1.0::DOUBLE / ln(l.dz)), 6) AS aa_score
                FROM mid l JOIN mid r ON l.z = r.z AND l.u < r.u
                GROUP BY 1, 2
            )
            SELECT s.* FROM scored s
            WHERE NOT EXISTS (
                SELECT 1 FROM edges e
                WHERE e.p1 = s.node_a AND e.p2 = s.node_b
            )
            ORDER BY aa_score DESC, node_a, node_b
            LIMIT 20
        """)
def q_link_prediction(spark, sf_dir):
    # Adamic-Adar link prediction on the part co-purchase graph (same
    # support>=2 edge set as the triangle census): top-20 absent pairs
    # by summed 1/ln(deg) over common neighbors, hub middles capped
    # (graph.py:link_prediction).
    from streaming_demos_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = G.co_occurrence_pairs(li, "l_orderkey", "l_partkey")
    return (
        G.link_prediction(edges, "p1", "p2", max_degree=1000)
        .orderBy(F.desc("aa_score"), "node_a", "node_b")
        .limit(20)
    )


@key("ext_harmonic_2hop", oracle="""
            WITH e0 AS MATERIALIZED (
                SELECT a.l_partkey AS p1, b.l_partkey AS p2
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            sym AS MATERIALIZED (
                SELECT p1 AS a, p2 AS b FROM e0
                UNION ALL SELECT p2 AS a, p1 AS b FROM e0
            ),
            n1 AS MATERIALIZED (
                SELECT a, count(*) AS n1 FROM sym GROUP BY 1
            ),
            mid AS (SELECT a FROM n1 WHERE n1 <= 64),
            h2 AS MATERIALIZED (
                SELECT DISTINCT e1.a, e2.b AS c
                FROM sym e1
                JOIN mid ON e1.b = mid.a
                JOIN sym e2 ON e1.b = e2.a
                WHERE e1.a <> e2.b
            ),
            h2x AS (
                SELECT h2.a, h2.c
                FROM h2 LEFT JOIN sym s
                  ON h2.a = s.a AND h2.c = s.b
                WHERE s.a IS NULL
            ),
            n2 AS (SELECT a, count(*) AS n2 FROM h2x GROUP BY 1)
            SELECT n1.a AS node, n1.n1 AS n_1hop,
                   coalesce(n2.n2, 0) AS n_2hop,
                   round(n1.n1 + coalesce(n2.n2, 0) / 2.0, 6)
                       AS harmonic_c2
            FROM n1 LEFT JOIN n2 ON n1.a = n2.a
            ORDER BY harmonic_c2 DESC, node LIMIT 100
        """)
def q_harmonic_2hop(spark, sf_dir):
    # Radius-2 harmonic centrality on the co-purchase graph: 1-hop
    # degree + half-weighted exactly-distance-2 count, all equality
    # joins (graph.py:harmonic_centrality_2hop). Top-100 by centrality.
    from streaming_demos_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = G.co_occurrence_pairs(li, "l_orderkey", "l_partkey")
    return (
        G.harmonic_centrality_2hop(edges, "p1", "p2")
        .orderBy(F.desc("harmonic_c2"), "node")
        .limit(100)
    )


@key("ext_assortativity", oracle="""
            WITH e0 AS MATERIALIZED (
                SELECT a.l_partkey AS p1, b.l_partkey AS p2
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            s AS MATERIALIZED (
                SELECT p1 AS a, p2 AS b FROM e0
                UNION ALL SELECT p2 AS a, p1 AS b FROM e0
            ),
            deg AS MATERIALIZED (
                SELECT a, count(*) AS d FROM s GROUP BY 1
            ),
            dec AS (
                SELECT da.d AS dx, db.d AS dy
                FROM s JOIN deg da ON s.a = da.a
                       JOIN deg db ON s.b = db.a
            ),
            agg AS (
                SELECT count(*)::DOUBLE AS n,
                       sum(dx) AS sx, sum(dy) AS sy,
                       sum(dx*dy) AS sxy,
                       sum(dx*dx) AS sxx, sum(dy*dy) AS syy
                FROM dec
            )
            SELECT n::BIGINT AS n_edge_ends,
                   round((sxy - sx*sy/n)
                         / sqrt(greatest(0.0,
                               (sxx - sx*sx/n) * (syy - sy*sy/n))),
                         6) AS assortativity
            FROM agg
        """)
def q_assortativity(spark, sf_dir):
    # Degree assortativity of the part co-purchase graph: Pearson of
    # endpoint degrees over directed-both-ways edges, integer-exact
    # moment sums (graph.py:degree_assortativity).
    from streaming_demos_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = G.co_occurrence_pairs(li, "l_orderkey", "l_partkey")
    return G.degree_assortativity(edges, "p1", "p2")


def _k_core_oracle_sql(k: int = 3, rounds: int = 8) -> str:
    """Fixed-round replay of the k-core peel as chained CTEs — exact
    because graph.py:k_core RAISES unless it converges within the same
    budget, and peeling is idempotent once stable."""
    # MATERIALIZED is load-bearing: each s{i} is referenced twice by
    # round i+1, and DuckDB inlines plain CTEs — the replay would
    # otherwise expand to 2^rounds copies of the base scan.
    ctes = [
        """e0 AS MATERIALIZED (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        )""",
        "s0 AS MATERIALIZED (SELECT p1 AS a, p2 AS b FROM e0"
        " UNION ALL SELECT p2 AS a, p1 AS b FROM e0)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT a FROM s{i-1} GROUP BY a"
            f" HAVING count(*) >= {k})"
        )
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT s.a, s.b FROM s{i-1} s"
            f" JOIN k{i} ka ON s.a = ka.a JOIN k{i} kb ON s.b = kb.a)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a AS node, count(*) AS core_degree FROM s{rounds}"
        + " GROUP BY 1 ORDER BY node"
    )


@key("ext_k_core", oracle=lambda: _k_core_oracle_sql(2, 12))
def q_k_core(spark, sf_dir):
    # 2-core of the part co-purchase graph (same support>=2 edge set as
    # the triangle census): iterative degree peeling, one aggregation +
    # two semi joins per round, raises on non-convergence so the
    # fixed-round oracle replay is exact (graph.py:k_core).
    from streaming_demos_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = G.co_occurrence_pairs(li, "l_orderkey", "l_partkey")
    return G.k_core(edges, "p1", "p2", k=2, max_rounds=12).orderBy("node")


@key("ext_label_propagation", oracle="""
            WITH e0 AS MATERIALIZED (
                SELECT a.l_partkey AS p1, b.l_partkey AS p2
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            sym AS MATERIALIZED (
                SELECT p1 AS a, p2 AS b FROM e0
                UNION ALL SELECT p2 AS a, p1 AS b FROM e0
            ),
            l0 AS MATERIALIZED (
                SELECT DISTINCT a AS node, a AS lbl FROM sym
            ),
            r1 AS MATERIALIZED (
                SELECT node, lbl FROM (
                    SELECT s.a AS node, l.lbl, count(*) AS c,
                           row_number() OVER (PARTITION BY s.a
                               ORDER BY count(*) DESC, l.lbl) AS rn
                    FROM sym s JOIN l0 l ON s.b = l.node
                    GROUP BY s.a, l.lbl
                ) WHERE rn = 1
            ),
            r2 AS MATERIALIZED (
                SELECT node, lbl FROM (
                    SELECT s.a AS node, l.lbl, count(*) AS c,
                           row_number() OVER (PARTITION BY s.a
                               ORDER BY count(*) DESC, l.lbl) AS rn
                    FROM sym s JOIN r1 l ON s.b = l.node
                    GROUP BY s.a, l.lbl
                ) WHERE rn = 1
            ),
            r3 AS MATERIALIZED (
                SELECT node, lbl FROM (
                    SELECT s.a AS node, l.lbl, count(*) AS c,
                           row_number() OVER (PARTITION BY s.a
                               ORDER BY count(*) DESC, l.lbl) AS rn
                    FROM sym s JOIN r2 l ON s.b = l.node
                    GROUP BY s.a, l.lbl
                ) WHERE rn = 1
            )
            SELECT node, lbl AS community FROM r3 ORDER BY node
        """)
def q_label_propagation(spark, sf_dir):
    # Communities of the part co-purchase graph by 3 rounds of
    # synchronous label propagation — per-round join + count + argmax,
    # ties to the smallest label so the fixed-round replay is exact
    # (graph.py:label_propagation). Oracle unrolls the identical
    # rounds as chained MATERIALIZED CTE layers.
    from streaming_demos_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = G.co_occurrence_pairs(li, "l_orderkey", "l_partkey")
    return G.label_propagation(edges, "p1", "p2", rounds=3).orderBy("node")


@key("ext_triangle_count", oracle="""
            WITH pairs AS (
                SELECT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
            ),
            e AS (
                SELECT p1 AS a, p2 AS b FROM pairs
                GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            deg AS (
                SELECT node, count(*) AS d FROM (
                    SELECT a AS node FROM e
                    UNION ALL SELECT b FROM e
                ) GROUP BY 1
            )
            SELECT
                (SELECT count(*) FROM deg) AS n_nodes,
                (SELECT count(*) FROM e) AS n_edges,
                (SELECT sum(d * (d - 1) // 2) FROM deg)::BIGINT AS n_wedges,
                (SELECT count(*)
                 FROM e ab JOIN e bc ON ab.b = bc.a
                 JOIN e ac ON ac.a = ab.a AND ac.b = bc.b) AS n_triangles,
                round(3.0 * (SELECT count(*)
                             FROM e ab JOIN e bc ON ab.b = bc.a
                             JOIN e ac ON ac.a = ab.a AND ac.b = bc.b)
                      / (SELECT sum(d * (d - 1) / 2) FROM deg),
                      6) AS clustering_coeff
        """)
def q_triangle_count(spark, sf_dir):
    # Triangle census of the part co-purchase graph (pairs co-occurring
    # in >= 2 orders): degree-oriented wedge join bounds the work at
    # O(m^1.5) regardless of hubs (graph.py:triangle_stats). The
    # support threshold is the scale lever — random co-occurrence
    # rarely repeats, so the edge set stays sparse as orders grow.
    from streaming_demos_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("p1")
    )
    b = li.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("p2")
    )
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
    )
    return G.triangle_stats(edges, "p1", "p2")
