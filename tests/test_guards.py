"""Degenerate-input guards (round-3 advice): ANSI-mode division hazards,
connected-components convergence, and join output-name collisions."""

import pytest
from pyspark.sql import functions as F

from streaming_demos_spark.operators import curation as C
from streaming_demos_spark.operators import dedup as D
from streaming_demos_spark.operators import relational as R
from streaming_demos_spark.streaming import supplier_stats as SS


def test_zscore_constant_key_no_crash(spark):
    # A constant key (sd=0.0) and a single-row key (sd NULL) must flag
    # nothing — not raise DIVIDE_BY_ZERO under Spark 4's ANSI default.
    df = spark.createDataFrame(
        [("const", 5.0, 1), ("const", 5.0, 2), ("const", 5.0, 3),
         ("single", 9.9, 4),
         ("varied", 1.0, 5), ("varied", 2.0, 6), ("varied", 100.0, 7)],
        ["k", "v", "rid"],
    )
    out = R.zscore_anomalies(df, "k", "v", "rid", threshold=1.0).collect()
    assert {r.k for r in out} <= {"varied"}
    assert all(r.zscore is not None for r in out)


def test_weighted_sample_nonpositive_weights_dropped(spark):
    # weight 0 = "never keep" (and no ANSI crash); negative weights have
    # no PPS meaning and must not win by inverted priority.
    df = spark.createDataFrame(
        [(1, 10.0), (2, 0.0), (3, -5.0), (4, 2.0), (5, 1.0)],
        ["doc_id", "w"],
    )
    kept = C.weighted_priority_sample(df, "w", n_per_stratum=4)
    ids = {r.doc_id for r in kept.collect()}
    assert ids <= {1, 4, 5} and len(ids) == 3


def test_connected_components_raises_without_convergence(spark):
    # A 6-chain needs ~5 propagation rounds + 1 confirmation; max_iter=2
    # must fail loudly, not return a half-merged labeling.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="no convergence"):
        D.connected_components(edges, max_iter=2)
    ok = D.connected_components(edges, max_iter=10)
    assert {r.component for r in ok.collect()} == {1}


def test_connected_components_matches_union_find_oracle(spark):
    # Independent ground truth: the two Spark implementations
    # (propagation, star contraction) are cross-checked elsewhere, but
    # they could in principle share a wrong answer — a five-line
    # union-find is a third, trivially-auditable reference. Random
    # graphs across densities: sparse (mostly singleton pairs), medium,
    # and denser than near-dup graphs ever get.
    import random

    def uf_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-id canonical label per component, matching the operator
        return {n: find(n) for n in nodes}

    rng = random.Random(123)
    for n_nodes, n_edges in [(30, 8), (50, 40), (40, 120)]:
        raw = [
            (rng.randrange(0, n_nodes), rng.randrange(0, n_nodes))
            for _ in range(n_edges)
        ]
        raw = [(a, b) for a, b in raw if a != b]
        nodes = sorted({x for e in raw for x in e})
        expect = uf_components(raw, nodes)
        edges = spark.createDataFrame(raw, ["doc_a", "doc_b"])
        got = {
            r.node: r.component
            for r in D.connected_components(edges, max_iter=40).collect()
        }
        # path-compressed union-find roots ARE the min ids here because
        # unions always point the larger root at the smaller
        assert got == expect, f"divergence at n={n_nodes} e={n_edges}"


def test_star_contraction_matches_propagation(spark):
    # Star contraction must produce the identical min-id labeling as
    # min-label propagation, in O(log d) rounds: a 40-chain converges
    # within 8 star rounds where propagation needs ~40.
    import random

    rng = random.Random(7)
    rand_edges = [
        (rng.randrange(0, 60), rng.randrange(0, 60)) for _ in range(80)
    ]
    rand_edges = [(a, b) for a, b in rand_edges if a != b]
    chain = [(i, i + 1) for i in range(100, 140)]
    edges = spark.createDataFrame(rand_edges + chain, ["doc_a", "doc_b"])
    prop = {
        r.node: r.component
        for r in D.connected_components(edges, max_iter=60).collect()
    }
    star = {
        r.node: r.component
        for r in D.connected_components_star(edges, max_iter=8).collect()
    }
    assert star == prop
    assert star[140] == 100  # chain fully merged in log rounds


def test_attribution_join_shared_columns_prefixed(spark):
    # Two event streams sharing a pass-through name ('value') must yield
    # l_/r_ prefixed outputs, never duplicate column names.
    left = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:10", 1.0, "imp")],
        ["k", "lt_s", "value", "kind"],
    ).select("k", F.to_timestamp("lt_s").alias("lt"), "value", "kind")
    right = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:12", 2.0)],
        ["k", "rt_s", "value"],
    ).select("k", F.to_timestamp("rt_s").alias("rt"), "value")
    out = SS.attribution_join(left, right, key="k", left_ts="lt", right_ts="rt")
    assert len(out.columns) == len(set(out.columns))
    assert {"l_value", "r_value", "kind"} <= set(out.columns)
    row = out.collect()[0]
    assert (row.l_value, row.r_value, row.kind) == (1.0, 2.0, "imp")


def test_attribution_join_same_ts_name(spark):
    # Identical event-time names on both sides prefix too.
    left = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:10")], ["k", "s"]
    ).select("k", F.to_timestamp("s").alias("ts"))
    right = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:12")], ["k", "s"]
    ).select("k", F.to_timestamp("s").alias("ts"))
    out = SS.attribution_join(left, right, key="k", left_ts="ts", right_ts="ts")
    assert sorted(out.columns) == ["k", "l_ts", "r_ts"]
    assert out.count() == 1


def test_pq_codebooks_rejects_indivisible_dim():
    import pytest as _pytest

    from streaming_demos_spark.operators import similarity as SIM

    with _pytest.raises(ValueError, match="not divisible"):
        SIM.pq_codebooks(10, m=4)


def test_block_dedup_empty_and_whitespace_docs(spark):
    from streaming_demos_spark.operators import dedup as D

    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "real words here")],
                               ["doc_id", "text"])
    out = {r.doc_id: r for r in D.block_dedup(df, block_words=4).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3].keep_ratio_e4 == 10000
    # the two degenerate docs collapse to one empty block; first wins
    assert out[1].n_kept + out[2].n_kept == 1


def test_snapshot_diff_all_inserts_and_all_deletes(spark):
    from streaming_demos_spark.sources.cdc import snapshot_diff

    a = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["k", "v"])
    empty = spark.createDataFrame([], "k long, v double")
    assert {r.op for r in snapshot_diff(a, empty, ["k"]).collect()} == {"d"}
    assert {r.op for r in snapshot_diff(empty, a, ["k"]).collect()} == {"i"}
    assert snapshot_diff(a, a, ["k"]).collect() == []


def test_bm25_empty_query_terms(spark):
    from streaming_demos_spark.functions import tfidf as TI

    df = spark.createDataFrame([(1, "some words")], ["doc_id", "text"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        TI.bm25_topk(df, [], k=5)


def test_cosine_zero_vector_is_null_not_crash(spark):
    from streaming_demos_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], ["vid", "v"]
    ).withColumn("u", F.array(F.lit(1.0), F.lit(0.0)))
    out = df.select("vid", SIM.cosine("v", "u").alias("c")).collect()
    got = {r.vid: r.c for r in out}
    assert got[1] == pytest.approx(1.0)
    assert got[2] is None


def test_auc_single_class_is_null_not_crash(spark):
    from streaming_demos_spark.operators import linucb as L

    all_pos = spark.createDataFrame(
        [(0.9, 1.0), (0.4, 1.0)], ["score", "reward"]
    )
    assert L.auc(all_pos).first()["auc"] is None
    all_neg = spark.createDataFrame(
        [(0.9, 0.0), (0.4, 0.0)], ["score", "reward"]
    )
    assert L.auc(all_neg).first()["auc"] is None


def test_semantic_dedup_zero_vector_no_crash(spark):
    from streaming_demos_spark.operators import clustering as CL

    rows = [(i, [float(i % 3 + 1), 1.0, 0.5, 0.25]) for i in range(12)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = CL.semantic_dedup(df, k=2, threshold=0.9).collect()
    # The zero vector survives (cosine NULL everywhere -> never a dup).
    assert 99 in {r.vec_id for r in out}


def test_logreg_fit_empty_input_raises(spark):
    from streaming_demos_spark.operators import training as TR

    df = spark.createDataFrame([], "x1 double, y double")
    with pytest.raises(ValueError, match="empty training input"):
        TR.logreg_fit(df, ["x1"], "y", iters=1)


def test_zipf_fit_single_term_yields_null_not_abort(spark):
    from streaming_demos_spark.operators import relational as R

    df = spark.createDataFrame([("only",)] * 5, "term string")
    row = R.zipf_fit(df, "term").collect()[0]
    assert row.n_terms == 1
    assert row.zipf_slope is None and row.r2 is None


def test_triangle_stats_empty_edges_all_zero(spark):
    from streaming_demos_spark.operators import graph as G

    e = spark.createDataFrame([], "src int, dst int")
    row = G.triangle_stats(e).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        0, 0, 0, 0,
    )
    assert row.clustering_coeff is None


def test_pagerank_empty_edges_raises(spark):
    import pytest as _pytest

    from streaming_demos_spark.operators import graph as G

    e = spark.createDataFrame([], "src int, dst int")
    with _pytest.raises(ValueError, match="empty edge set"):
        G.pagerank(e)


def test_dataset_card_single_doc_no_ansi_abort(spark):
    from streaming_demos_spark.operators import curation as CU

    docs = spark.createDataFrame(
        [(1, "hello world", "en", 11)],
        "doc_id int, text string, lang string, n_chars int",
    )
    row = CU.dataset_card(docs).collect()[0]
    assert row.n_docs == 1 and row.dup_rate_e6 == 0
    assert row.lang_entropy == 0.0  # single language
