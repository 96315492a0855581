"""Unit tests for the round-3 additions: SCD-2 change-log history,
the Gopher-style quality gate, HLL mergeable-sketch rollups, and the
key-skew profiler — crafted micro-data for the semantics; the oracle
sweep covers engine-vs-DuckDB equivalence at corpus scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streaming_demos_spark.operators import curation as CU
from streaming_demos_spark.operators import relational as R
from streaming_demos_spark.sources import cdc


@pytest.fixture(scope="module")
def change_log(spark):
    # key 1: c -> u -> u        (three versions, last current)
    # key 2: c -> d             (one closed version, nothing current)
    # key 3: c                  (one current version)
    rows = [
        (1, 10.0, "c", 100),
        (1, 11.0, "u", 101),
        (1, 12.0, "u", 102),
        (2, 20.0, "c", 200),
        (2, 20.0, "d", 201),
        (3, 30.0, "c", 300),
    ]
    return spark.createDataFrame(rows, ["k", "price", "op", "lsn"])


def test_scd2_keeps_every_version(change_log):
    hist = cdc.scd2_history(change_log, ["k"], seq_col="lsn")
    by_key = {}
    for r in hist.orderBy("k", "valid_from").collect():
        by_key.setdefault(r.k, []).append(r)
    assert [v.price for v in by_key[1]] == [10.0, 11.0, 12.0]
    assert [(v.valid_from, v.valid_to) for v in by_key[1]] == [
        (100, 101), (101, 102), (102, None)
    ]
    assert [v.is_current for v in by_key[1]] == [False, False, True]


def test_scd2_delete_closes_without_opening(change_log):
    hist = cdc.scd2_history(change_log, ["k"], seq_col="lsn")
    k2 = hist.filter(F.col("k") == 2).collect()
    assert len(k2) == 1  # the tombstone itself emits no version
    assert (k2[0].valid_from, k2[0].valid_to) == (200, 201)
    assert not k2[0].is_current


def test_scd2_current_matches_apply_changes(change_log):
    # The current slice of the history IS the compacted state.
    hist = cdc.scd2_history(change_log, ["k"], seq_col="lsn")
    current = {
        r.k: r.price for r in hist.filter("is_current").collect()
    }
    compacted = {
        r.k: r.price
        for r in cdc.apply_changes(change_log, ["k"], seq_col="lsn").collect()
    }
    assert current == compacted == {1: 12.0, 3: 30.0}


@pytest.fixture(scope="module")
def gated_docs(spark):
    prose = (
        "the cat and the dog ran to the house and it was a fine day for a walk "
        "in the park with many things to see"
    )
    rows = [
        (1, prose),  # passes everything
        (2, "too short"),  # fails ok_tokens
        (3, "0 1 2 3 4 5 6 7 8 9 10 11 12 13 14"),  # no alpha words, no stopwords
        (4, "the " + "supercalifragilistic " * 20 + "of"),  # fails word-len max
        (5, ""),  # empty: fails ok_tokens, no division error
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_quality_filter_rules(gated_docs):
    out = {r.doc_id: r for r in CU.quality_filter(gated_docs).collect()}
    assert out[1].passes
    assert not out[2].ok_tokens and not out[2].passes
    assert out[3].ok_tokens and not out[3].ok_alpha_words
    assert not out[3].ok_stopwords and not out[3].passes
    assert not out[4].ok_word_len and not out[4].passes
    assert not out[5].ok_tokens and not out[5].passes  # and no ANSI divide error


def test_quality_filter_is_map_only(gated_docs):
    plan = CU.quality_filter(gated_docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection: no shuffle


def test_hll_rollup_bound_holds(spark):
    # 3 groups x 2 subgroups, values engineered so subgroup sketches
    # overlap (union must dedupe across subgroups, not sum).
    rows = [
        (g, s, v)
        for g in ("A", "B", "C")
        for s in (0, 1)
        for v in range(0, 500, 1 + s)  # s=0: 0..499; s=1: evens only (subset)
    ]
    df = spark.createDataFrame(rows, ["g", "s", "v"])
    out = {r.g: r for r in R.hll_distinct_rollup(df, "g", "s", "v").collect()}
    for g in ("A", "B", "C"):
        assert out[g].n_subgroups == 2
        assert out[g].exact_distinct == 500  # union, not 500+250
        assert out[g].estimate_ok


def test_key_skew_profile_flags_heavy_key(spark):
    rows = [("hot", i) for i in range(900)] + [
        (f"k{j}", i) for j in range(10) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = R.key_skew_profile(df, "k", top_n=3).collect()
    assert out[0].k == "hot" and out[0].key_rows == 900
    assert out[0].row_share == 0.9
    # mean key count = 1000/11 ~ 90.9 -> skew ~ 9.9
    assert 9.0 < out[0].skew_ratio < 11.0
    assert len(out) == 3


def test_ndcg_perfect_and_inverted(spark):
    from streaming_demos_spark.operators import linucb as LU

    # user 1: both positives ranked on top -> ndcg = 1.
    # user 2: single positive ranked last of 3 -> dcg = 1/log2(4) = 0.5,
    # idcg = 1 -> ndcg = 0.5. Average = 0.75.
    rows = [
        (1, 10, 0.9, 1), (1, 11, 0.8, 1), (1, 12, 0.1, 0),
        (2, 20, 0.9, 0), (2, 21, 0.8, 0), (2, 22, 0.1, 1),
    ]
    df = spark.createDataFrame(rows, ["user_id", "product_id", "score", "reward"])
    out = LU.ndcg_at_k(df, k=5).collect()
    assert out[0].ndcg_at_k == 0.75


def test_ndcg_skips_users_without_positives(spark):
    from streaming_demos_spark.operators import linucb as LU

    rows = [(1, 10, 0.9, 1), (2, 20, 0.9, 0)]
    df = spark.createDataFrame(rows, ["user_id", "product_id", "score", "reward"])
    out = LU.ndcg_at_k(df, k=5).collect()
    assert out[0].ndcg_at_k == 1.0  # user 2 (no positives) excluded


def test_streaming_cdc_upsert_exactly_once(spark, tmp_path):
    """S10 end-to-end under Structured Streaming: envelope JSON files ->
    debezium_unwrap -> foreachBatch MERGE. Two availableNow runs over
    one checkpoint simulate two micro-batches; the second carries an
    update, a delete, AND a late-arriving older change whose sequence
    guard must hold. A third run replays nothing (checkpoint) so the
    store must be unchanged."""
    from pyspark.sql import types as T

    from streaming_demos_spark.sources import cdc

    row_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "cdc_src")
    chk = str(tmp_path / "cdc_chk")

    def emit(rows, op, lsn_offset):
        df = spark.createDataFrame(rows, row_schema)
        env = cdc.make_envelopes(df, op, "demo", "t", lsn_offset=lsn_offset)
        env.coalesce(1).write.mode("append").text(src)

    store: dict = {}

    def run_once():
        stream = spark.readStream.schema(
            T.StructType([T.StructField("value", T.StringType())])
        ).text(src)
        changes = cdc.debezium_unwrap(stream, "value", row_schema)
        q = (
            changes.writeStream.foreachBatch(
                cdc.upsert_foreach_batch(store, ["k"], "lsn")
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: create keys 1..3 (lsn = k*10)
    emit([(1, 10.0), (2, 20.0), (3, 30.0)], "c", 0)
    run_once()
    assert {k: v["price"] for k, v in cdc.current_state(store).items()} == {
        1: 10.0, 2: 20.0, 3: 30.0
    }

    # batch 2: update k=2 (lsn 21), delete k=3 (lsn 32), and a STALE
    # create for k=1 with an older sequence variant (lsn_offset=-1 ->
    # lsn 9 < stored 10): the guard must ignore it.
    emit([(2, 99.0)], "u", 1)
    emit([(3, 30.0)], "d", 2)
    emit([(1, 777.0)], "c", -1)
    run_once()
    live = {k: v["price"] for k, v in cdc.current_state(store).items()}
    assert live == {1: 10.0, 2: 99.0}
    assert store[3]["op"] == "d"  # tombstone retained, not popped

    # batch 3: nothing new -> checkpoint yields an empty (or no) batch.
    snapshot = dict(store)
    run_once()
    assert store == snapshot


def test_fuzzy_decontaminate_catches_partial_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog near the river")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # shares a long run of benchmark n-grams with a changed tail
            (1, "the quick brown fox jumps over the lazy dog near the barn"),
            # no shared 3-grams at all
            (2, "completely unrelated words about spark execution plans"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in CU.fuzzy_decontaminate(corpus, bench, threshold=0.3).collect()
    }
    assert len(out) == 2
    assert out[1].contaminated and out[1].best_jaccard_e4 >= 3000
    assert out[1].n_matches == 1
    assert not out[2].contaminated and out[2].best_jaccard_e4 == 0


def test_tfidf_cosine_topk_ranks_by_term_overlap(spark):
    from streaming_demos_spark.functions import tfidf as TI

    rows = [
        (0, "alpha beta gamma delta"),            # query
        (1, "alpha beta gamma epsilon"),          # 3 shared terms
        (2, "alpha zeta eta theta"),              # 1 shared term
        (3, "iota kappa lambda mu"),              # 0 shared terms
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = TI.tfidf_cosine_topk(docs, query_ids=[0], k=3).collect()
    ordered = [r.doc_id for r in out]
    assert ordered[0] == 1  # most overlap ranks first
    assert ordered[1] == 2
    assert 3 not in ordered or out[-1].cosine == 0.0  # no shared terms
    assert all(r.query_id == 0 for r in out)
    assert out[0].cosine > out[1].cosine


def test_tfidf_cosine_topk_max_df_prunes_stop_terms(spark):
    from streaming_demos_spark.functions import tfidf as TI

    # 'the' appears in every doc (ratio 1.0); 'alpha' in 2/3 (0.67).
    # max_df_ratio=0.7 prunes 'the' but keeps 'alpha', so doc 2 (sharing
    # only 'the') must produce no candidate row at all.
    rows = [
        (0, "the alpha beta"),
        (1, "the alpha gamma"),   # shares 'the' + 'alpha'
        (2, "the delta epsilon"), # shares only 'the'
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.cosine
           for r in TI.tfidf_cosine_topk(docs, [0], k=3, max_df_ratio=0.7).collect()}
    assert out[1] > 0
    assert 2 not in out  # no surviving shared term -> no candidate row


def test_value_histogram_bins_and_edges(spark):
    # group g: values 0..10 over 10 bins of width 1.0; the max value
    # lands in the LAST bin, not an overflow bin. group h is degenerate
    # (min == max) and must collapse into bin 0.
    rows = [("g", float(v)) for v in range(11)] + [("h", 5.0), ("h", 5.0)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    out = R.value_histogram(df, "grp", "val", bins=10).collect()
    g = [r for r in out if r.grp == "g"]
    assert [r.bin for r in g] == list(range(10))
    assert g[-1].n_rows == 2  # values 9.0 and 10.0 share the last bin
    h = [r for r in out if r.grp == "h"]
    assert len(h) == 1 and h[0].bin == 0 and h[0].n_rows == 2


def test_tagged_set_partition_is_a_partition(spark):
    a = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(2,), (3,), (4,)], ["k"])
    out = R.tagged_set_partition(a, b, "k").collect()
    by_tag = {}
    for r in out:
        by_tag.setdefault(r.tag, set()).add(r.k)
    assert by_tag == {"both": {2, 3}, "a_only": {1}, "b_only": {4}}
    assert len(out) == 4  # disjoint cover, no duplicates


def test_range_sorted_write_produces_skippable_layout(spark, tmp_path):
    """write_range_sorted must yield files with DISJOINT sort-key ranges
    (footer min/max proves a filtered scan can skip whole files/row
    groups without decoding them)."""
    import pyarrow.parquet as pq

    from streaming_demos_spark.catalog import write_range_sorted

    df = spark.range(0, 10_000).selectExpr(
        "id", "cast(id % 997 as double) AS noise"
    )
    path = str(tmp_path / "sorted")
    write_range_sorted(df, path, ["id"], num_files=4)

    import os

    ranges = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "id"
        )
        lo = min(md.row_group(g).column(col_idx).statistics.min
                 for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(col_idx).statistics.max
                 for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint: a point/range predicate skips files

    # and the data survives the layout intact
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(10_000))


def test_table_profile_counts_and_ranges(spark):
    rows = [(1, "a", 1.5), (2, "a", None), (3, None, 4.5), (4, "b", 2.0)]
    df = spark.createDataFrame(rows, ["id", "cat", "val"])
    out = {r.column: r for r in R.table_profile(df).collect()}
    assert out["id"].n_rows == 4 and out["id"].n_nulls == 0
    assert out["id"].n_distinct == 4
    assert (out["id"].min_value, out["id"].max_value) == (1.0, 4.0)
    assert out["cat"].n_nulls == 1 and out["cat"].n_distinct == 2
    assert out["cat"].min_value is None  # non-numeric: no range
    assert out["val"].n_nulls == 1
    assert (out["val"].min_value, out["val"].max_value) == (1.5, 4.5)


def test_table_profile_approx_mode_single_pass(spark):
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS g")
    out = {r.column: r for r in R.table_profile(df, exact=False).collect()}
    # HLL++ estimates: exact-ish at this cardinality
    assert abs(out["id"].n_distinct - 1000) <= 50
    assert out["g"].n_distinct == 7
    # approx path removes the multi-distinct Expand duplication
    plan = R.table_profile(df, exact=False)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_per_key_time_split_no_future_leak(spark):
    rows = [
        ("u1", i, f"2024-01-{i + 1:02d}") for i in range(5)   # 5 rows: 4/1
    ] + [("u2", 10, "2024-02-01")]                            # single row -> train
    df = spark.createDataFrame(rows, ["user", "event", "ts"])
    out = R.per_key_time_split(df, "user", "ts", train_frac=0.8, tie_col="event")
    got = {(r.user, r.event): r.split for r in out.collect()}
    assert [got[("u1", i)] for i in range(5)] == ["train"] * 4 + ["test"]
    assert got[("u2", 10)] == "train"  # ceil keeps single-row keys in train
    # temporal invariant: every train ts strictly precedes every test ts per key
    u1 = sorted((r.ts, r.split) for r in out.collect() if r.user == "u1")
    seen_test = False
    for _, s in u1:
        seen_test = seen_test or s == "test"
        assert not (seen_test and s == "train")


def test_near_dup_keep_best_prefers_quality(spark):
    from streaming_demos_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    rows = [
        (1, base),                      # near-dup of 2, shorter -> lower score
        (2, base + " into the woods to find a place for a rest today"),
        (3, "completely different text about query engines and columns"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in D.near_dup_keep_best(docs, threshold=0.3).collect()}
    assert out[1].component == out[2].component  # clustered together
    kept = [d for d in (1, 2) if out[d].keep]
    assert len(kept) == 1
    # the kept one has the max quality score (ties to min id)
    best = max((out[d].quality_score, -d) for d in (1, 2))
    assert kept[0] == -best[1]
    assert out[3].keep and out[3].n_members == 1  # singleton survives


def test_mix_token_plan_caps_and_shortfall(spark):
    rows = [
        (1, "one two three four", "en"),        # 4 tokens
        (2, "uno dos", "es"),                   # 2 tokens
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.lang: r for r in CU.mix_token_plan(
        docs, "lang", {"en": 0.5, "es": 0.5}, token_budget=6).collect()}
    # en: desire 3 of 4 -> rate .75, no shortfall
    assert out["en"].sample_rate == 0.75 and out["en"].shortfall_tokens == 0.0
    # es: desire 3 of 2 -> rate capped at 1, shortfall 1
    assert out["es"].sample_rate == 1.0
    assert out["es"].planned_tokens == 2.0 and out["es"].shortfall_tokens == 1.0


def test_streaming_curation_pipeline(spark, tmp_path):
    """Curation ops run UNCHANGED on streams: quality_filter (map-only)
    gates a document stream and dropDuplicatesWithinWatermark suppresses
    re-deliveries across micro-batches — the streaming face of the
    batch curation pipeline."""
    from pyspark.sql import types as T

    from streaming_demos_spark.operators.dedup import streaming_exact_dedup

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    prose = "the cat and the dog ran to the house and it was a fine day for all"
    src = str(tmp_path / "docs_src")
    chk = str(tmp_path / "docs_chk")

    def emit(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    emit([(1, prose, t0), (2, "too short", t0)])

    stream = spark.readStream.schema(schema).parquet(src)
    deduped = streaming_exact_dedup(stream, ["doc_id"], "ts", "10 seconds")

    got: dict = {}

    def sink(batch_df, batch_id):
        from streaming_demos_spark.operators import curation as CU

        gated = CU.quality_filter(batch_df).join(
            batch_df.select("doc_id"), "doc_id"
        )
        for r in gated.collect():
            got.setdefault(r.doc_id, []).append(r.passes)

    def run_once():
        q = (
            deduped.writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # re-deliver doc 1 (same id, inside the watermark horizon) + new doc 3
    emit([(1, prose, t0 + dt.timedelta(seconds=1)),
          (3, prose + " more of the fine words in it", t0 + dt.timedelta(seconds=2))])
    run_once()

    assert got[1] == [True]       # re-delivery suppressed: seen exactly once
    assert got[2] == [False]      # gate verdict flows through the stream
    assert got[3] == [True]


def test_streaming_ann_serving(spark, tmp_path):
    """ANN serving under Structured Streaming: a query-vector stream is
    LSH-bucketed map-side (same lsh_bucket expression as batch) and
    joined stream-static against the pre-bucketed corpus; per-query
    exact-cosine top-k runs in foreachBatch. Candidates never leave the
    query's bucket — the serving-path mirror of llm_ann_lsh_topk."""
    from pyspark.sql import types as T

    from streaming_demos_spark.operators import similarity as S

    # corpus: 2 clusters around e1 and -e1 in 4-d
    def vec(sign, eps):
        return [sign * 1.0, eps, -eps, sign * 0.5]

    corpus_rows = [(i, vec(1, 0.01 * i)) for i in range(5)] + [
        (10 + i, vec(-1, 0.01 * i)) for i in range(5)
    ]
    corpus = spark.createDataFrame(corpus_rows, ["vec_id", "embedding"])
    static_bucketed = S.with_lsh_bucket(corpus, num_planes=4)

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    src = str(tmp_path / "q_src")
    spark.createDataFrame(
        [(100, vec(1, 0.02)), (200, vec(-1, 0.02))], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q_bucketed = stream.withColumn(
        "bucket", S.lsh_bucket("embedding", 4)
    ).select("query_id", F.col("embedding").alias("_q"), "bucket")
    joined = q_bucketed.join(static_bucketed, "bucket")  # stream-static

    got: dict = {}

    def sink(batch_df, batch_id):
        from pyspark.sql import Window

        scored = batch_df.select(
            "query_id", "vec_id",
            F.round(S.cosine("embedding", "_q"), 6).alias("cos"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
        top = scored.withColumn("_rn", F.row_number().over(w)).filter("_rn <= 3")
        for r in top.collect():
            got.setdefault(r.query_id, []).append(r.vec_id)

    q = (
        joined.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "q_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # each query retrieves only from its own cluster's bucket
    assert set(got[100]) <= {0, 1, 2, 3, 4} and len(got[100]) == 3
    assert set(got[200]) <= {10, 11, 12, 13, 14} and len(got[200]) == 3


def test_sql_surface_matches_dataframe_plans(spark):
    """§3.1 parity: the SQL-string entry point returns row-identical
    results to the DataFrame API for every headline query it exposes."""
    import __spark_entry__ as E
    from streaming_demos_spark import sql_surface as SQ

    sf = "/root/testdata/sf0.001"
    Q = E.queries()
    for name in SQ.SQL_QUERIES:
        via_sql = sorted(map(tuple, SQ.run_sql(spark, name, sf).collect()))
        via_df = sorted(map(tuple, Q[name](spark, sf).collect()))
        assert via_sql == via_df, name


def test_unigram_surprisal_ranks_rarity(spark):
    from streaming_demos_spark.operators import text as TX

    rows = [
        (1, "common common common common"),
        (2, "common common rare1 rare2"),   # rarer tokens -> higher surprisal
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in TX.unigram_surprisal(df).collect()}
    assert out[1].n_tokens == 4 and out[2].n_tokens == 4
    assert out[2].mean_surprisal > out[1].mean_surprisal


def test_simhash_pairs_hamming_semantics(spark):
    from streaming_demos_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, base),
        (2, base + " again"),  # tiny edit -> small hamming, same prefix (likely)
        (3, "entirely different words about columnar query planning"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # wide threshold: verify the metric itself, not bucket recall
    out = {(r.doc_a, r.doc_b): r.hamming
           for r in D.simhash_near_dup_pairs(docs, max_hamming=32).collect()}
    if (1, 2) in out:          # same prefix -> candidate; near-identical text
        assert out[(1, 2)] <= 8
    for (a, b), h in out.items():
        assert a < b and 0 <= h <= 32
    # self-pairs never appear
    assert all(a != b for a, b in out)


def test_winnow_overlap_guarantee(spark):
    """Winnowing guarantee: docs sharing a run of window+k-1 = 6 words
    MUST share at least one fingerprint; disjoint docs share none."""
    from streaming_demos_spark.operators import text as TX

    run = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, run + " one two three"),
        (2, "x y z " + run),              # same 6-word run, different context
        (3, "p q r s t u v w"),           # disjoint vocabulary
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.doc_a, r.doc_b): r for r in
           TX.winnow_overlap_pairs(docs, min_shared=1).collect()}
    assert (1, 2) in out and out[(1, 2)].n_shared >= 1
    assert 0 < out[(1, 2)].overlap_ratio_e4 <= 10000
    assert not any(3 in pair for pair in out)


def test_ann_recall_ivf_full_probe_is_exact(spark):
    """With nprobe == n_centroids the IVF path scans every cell, so
    recall must be exactly 1 for every query."""
    from streaming_demos_spark.operators import similarity as S

    import math

    rows = [
        (i, [math.cos(i * 0.37 + d) for d in range(4)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.ann_recall_ivf(
        emb, query_ids=[0, 5], k=5, n_centroids=4, nprobe=4
    ).collect()
    assert len(out) == 2
    for r in out:
        assert r.recall_at_k == 1.0 and r.n_hit == 5


def test_embedding_outliers_flags_broken_vectors(spark):
    from streaming_demos_spark.operators import similarity as S

    rows = [(i, [1.0, 0.0, 0.0]) for i in range(20)] + [
        (100, [100.0, 0.0, 0.0]),  # exploded norm
        (101, [0.0, 0.0, 0.0]),    # zero vector
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in S.embedding_outliers(emb).collect()}
    assert out[100].is_outlier
    assert out[101].norm == 0.0
    assert sum(1 for r in out.values() if r.is_outlier) <= 2
    for i in range(20):
        assert not out[i].is_outlier


def test_embedding_outliers_constant_norms_ansi_safe(spark):
    from streaming_demos_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [3.0, 4.0]) for i in range(5)], ["vec_id", "embedding"]
    )
    out = S.embedding_outliers(emb).collect()  # sd == 0: must not raise
    assert all(r.z is None for r in out)


def test_snapshot_at_replays_history(change_log):
    from streaming_demos_spark.sources import cdc

    hist = cdc.scd2_history(change_log, ["k"], seq_col="lsn")
    # at lsn 101: key1 at its second version; keys 2/3 not yet created
    snap = {r.k: r.price for r in cdc.snapshot_at(hist, 101).collect()}
    assert snap == {1: 11.0}
    # at lsn 201: key2's delete has closed it; key1 at final version
    snap = {r.k: r.price for r in cdc.snapshot_at(hist, 201).collect()}
    assert snap == {1: 12.0}
    # at the end of the log the snapshot equals the compacted state
    snap = {r.k: r.price for r in cdc.snapshot_at(hist, 10_000).collect()}
    compacted = {
        r.k: r.price
        for r in cdc.apply_changes(change_log, ["k"], seq_col="lsn").collect()
    }
    assert snap == compacted


def test_dedup_report_counts(spark):
    from streaming_demos_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    rows = [
        (1, base),
        (2, base),                     # exact duplicate of 1 (also near-dup)
        (3, base + " with a friend"),  # near-dup of 1/2
        (4, "entirely different words about catalyst optimizer rules"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    r = D.dedup_report(docs, threshold=0.3).collect()[0]
    assert r.n_docs == 4
    assert r.n_exact_dup_rows == 1          # 4 docs, 3 distinct texts
    assert r.n_multi_clusters == 1          # {1,2,3}
    assert r.n_near_dup_docs == 3
    assert r.n_near_kept == 2               # min-id of cluster + singleton 4
    assert r.near_keep_rate_e4 == 5000


def _morton_py(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_matches_python_reference(spark):
    from streaming_demos_spark.catalog import zorder_key

    rows = [(a, b) for a in [0, 1, 5, 255, 65535] for b in [0, 3, 128, 65535]]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", zorder_key([F.col("a"), F.col("b")]).alias("z")).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == _morton_py(a, b)


def test_zordered_write_prunes_on_second_column(spark, tmp_path):
    """The point of Z-order vs a plain sort: file footer stats must
    constrain BOTH clustered columns. A predicate on the SECOND column
    alone prunes files under the Z-layout but cannot prune anything
    under a first-column-only sort (every file spans the full second
    range)."""
    import os

    import pyarrow.parquet as pq

    from streaming_demos_spark.catalog import write_range_sorted, write_zordered

    n = 20_000
    df = spark.range(0, n).selectExpr(
        "cast(id % 1000 as long) AS x",
        "cast(cast(id / 1000 as long) * 53 % 997 as long) AS y",
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(df, zpath, ["x", "y"], num_files=8)
    write_range_sorted(df, spath, ["x"], num_files=8)

    def file_ranges(path, col):
        out = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            ci = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            stats = [md.row_group(g).column(ci).statistics for g in range(md.num_row_groups)]
            out.append((min(s.min for s in stats), max(s.max for s in stats)))
        return out

    # predicate: y in the middle 1/8 of its range
    y_lo, y_hi = 436, 560
    z_overlap = [r for r in file_ranges(zpath, "y") if r[0] <= y_hi and r[1] >= y_lo]
    s_overlap = [r for r in file_ranges(spath, "y") if r[0] <= y_hi and r[1] >= y_lo]
    z_total, s_total = len(file_ranges(zpath, "y")), len(file_ranges(spath, "y"))
    assert len(s_overlap) == s_total  # x-sorted layout: zero y-pruning
    assert len(z_overlap) < z_total  # z-layout: footer stats skip files

    # the layout preserves the data
    assert spark.read.parquet(zpath).count() == n


def test_event_transitions_counts_and_probabilities(spark):
    from datetime import datetime

    from streaming_demos_spark.operators.relational import event_transitions

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: a -> b -> a ; user 2: a -> b ; user 3: c (no pair)
        (1, t(1), 1, "a"), (1, t(2), 2, "b"), (1, t(3), 3, "a"),
        (2, t(1), 4, "a"), (2, t(2), 5, "b"),
        (3, t(1), 6, "c"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = {(r.from_step, r.to_step): (r.n_transitions, r.p_e4)
           for r in event_transitions(df, "user_id", "ts", "event_type").collect()}
    assert out == {
        ("a", "b"): (2, 10000),   # a always goes to b
        ("b", "a"): (1, 10000),   # b always goes to a
    }


def test_event_transitions_tie_break_on_event_id(spark):
    from datetime import datetime

    from streaming_demos_spark.operators.relational import event_transitions

    ts = datetime(2024, 1, 1)
    rows = [(1, ts, 2, "b"), (1, ts, 1, "a"), (1, ts, 3, "c")]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = {(r.from_step, r.to_step) for r in
           event_transitions(df, "user_id", "ts", "event_type").collect()}
    assert out == {("a", "b"), ("b", "c")}  # ordered by id at equal ts


def test_snapshot_diff_classifies_and_lists_changed_cols(spark):
    from streaming_demos_spark.sources.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        ["k", "s", "v"],
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),          # unchanged -> no row
         (2, "B", 25.0),          # update, two cols
         (4, "d", 40.0),          # update from NULL (null-safe compare)
         (5, "e", 50.0)],         # insert
        ["k", "s", "v"],
    )
    out = {r.k: (r.op, r.changed_cols) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {
        2: ("u", "s,v"),
        3: ("d", ""),
        4: ("u", "s"),
        5: ("i", ""),
    }


def test_snapshot_diff_roundtrip_applies_back(spark):
    """Applying the diff ops to the old snapshot must reproduce the new
    one — the contract that makes the feed consumable."""
    from streaming_demos_spark.sources.cdc import snapshot_diff

    old = spark.createDataFrame([(i, float(i)) for i in range(50)], ["k", "v"])
    new = spark.createDataFrame(
        [(i, float(i) + (1 if i % 3 == 0 else 0)) for i in range(5, 55)], ["k", "v"]
    )
    diff = snapshot_diff(old, new, ["k"])
    dels = {r.k for r in diff.filter("op = 'd'").collect()}
    upserts = {r.k for r in diff.filter("op IN ('i','u')").collect()}
    applied = (
        old.filter(~F.col("k").isin(list(dels | upserts)))
        .unionByName(new.join(diff.filter("op IN ('i','u')").select("k"), "k"))
    )
    assert sorted(map(tuple, applied.collect())) == sorted(map(tuple, new.collect()))


def test_bpe_pair_stats_counts_weighted_by_word_frequency(spark):
    from streaming_demos_spark.operators.text import bpe_pair_stats

    rows = [(1, "ab ab ab cd"), (2, "ab x")]   # 'a b' x4, 'c d' x1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.pair: r.n_pairs for r in bpe_pair_stats(df, top_n=10).collect()}
    assert out == {"a b": 4, "c d": 1}


def test_calibration_bins_known_values(spark):
    from streaming_demos_spark.operators.linucb import calibration_bins

    rows = [
        (0.05, 0), (0.08, 0),            # bin 0: rate 0
        (0.55, 1), (0.58, 0),            # bin 5: rate 0.5
        (0.95, 1), (1.0, 1),             # bin 9 (1.0 clamps into 9): rate 1
    ]
    df = spark.createDataFrame(rows, ["score", "is_pos"])
    out = {r.bin: (r.n, r.pos_rate_e6) for r in
           calibration_bins(df, "score", "is_pos").collect()}
    assert out == {0: (2, 0), 5: (2, 500000), 9: (2, 1000000)}


def test_blocked_similarity_pairs_blocks_and_caps(spark):
    from streaming_demos_spark.operators.relational import blocked_similarity_pairs

    rows = [
        (1, "smith", "ny"), (2, "smyth", "ny"),   # lev 1, same block
        (3, "smith", "la"),                        # same name, other block
        (4, "jones", "ny"),                        # lev > 2 from smith
    ]
    df = spark.createDataFrame(rows, ["id", "name", "city"])
    out = [(r.id_a, r.id_b, r.distance) for r in
           blocked_similarity_pairs(df, "id", "name", ["city"], max_distance=2).collect()]
    assert out == [(1, 2, 1)]

    # hot-block guard: a block over the cap contributes nothing
    hot = spark.createDataFrame(
        [(i, "dup", "hot") for i in range(10)] + [(100, "aaa", "cold"), (101, "aab", "cold")],
        ["id", "name", "city"],
    )
    capped = blocked_similarity_pairs(hot, "id", "name", ["city"], max_block=5).collect()
    assert {(r.id_a, r.id_b) for r in capped} == {(100, 101)}


def test_bigram_lm_score_prefers_seen_sequences(spark):
    from streaming_demos_spark.operators.text import bigram_lm_score

    rows = [
        (1, "the cat sat"), (2, "the cat sat"), (3, "the cat sat"),
        (4, "sat the cat"),   # same unigrams, unseen order
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in bigram_lm_score(df).collect()}
    assert out[1].n_bigrams == 2
    # frequent sequence scores lower cross-entropy than the shuffled one
    assert out[1].mean_bigram_nll < out[4].mean_bigram_nll
    # unigram statistics alone could never separate docs 1 and 4
    from streaming_demos_spark.operators.text import unigram_surprisal

    uni = {r.doc_id: r.mean_surprisal for r in unigram_surprisal(df).collect()}
    assert uni[1] == uni[4]


def test_grouped_quantiles_selection_matches_percentile(spark):
    from streaming_demos_spark.catalog import load_table
    from streaming_demos_spark.operators import relational as R

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    probs = [0.25, 0.5, 0.75, 0.95]
    exact = {
        r["l_returnflag"]: r.asDict()
        for r in R.grouped_quantiles(
            li, "l_returnflag", "l_extendedprice", probs, exact=True
        ).collect()
    }
    sel = {
        r["l_returnflag"]: r.asDict()
        for r in R.grouped_quantiles_selection(
            li, "l_returnflag", "l_extendedprice", probs
        ).collect()
    }
    assert exact == sel


def test_grouped_quantiles_selection_degenerate_groups(spark):
    from streaming_demos_spark.operators import relational as R

    df = spark.createDataFrame(
        [("const", 7.5)] * 5 + [("single", 3.0)] + [("two", 1.0), ("two", 2.0)],
        ["g", "v"],
    )
    out = {
        r["g"]: r.asDict()
        for r in R.grouped_quantiles_selection(df, "g", "v", [0.5, 0.95]).collect()
    }
    assert out["const"]["p50"] == 7.5 and out["const"]["p95"] == 7.5
    assert out["single"]["p50"] == 3.0 and out["single"]["n_rows"] == 1
    assert out["two"]["p50"] == 1.5  # interpolated midpoint
    assert abs(out["two"]["p95"] - 1.95) < 1e-9


def test_grouped_quantiles_selection_no_value_buffering_agg(spark):
    # The plan must contain no `percentile(` aggregate (the per-group
    # buffering form); selection works through count histograms + a
    # bucket-bounded window.
    from streaming_demos_spark.catalog import load_table
    from streaming_demos_spark.operators import relational as R

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    plan = (
        R.grouped_quantiles_selection(li, "l_returnflag", "l_extendedprice", [0.5])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "percentile(" not in plan


def test_incremental_agg_refresh_semantics(spark):
    from streaming_demos_spark.operators import relational as R

    prev = spark.createDataFrame(
        [("a", 10.0, 2), ("b", 5.0, 1)], ["g", "revenue", "n_rows"]
    )
    delta = spark.createDataFrame(
        [
            ("d", "b", 5.0),          # full delete -> group b vanishes
            ("d", "a", 4.0),          # update a: retract old...
            ("i", "a", 6.0),          # ...insert new
            ("i", "c", 7.0),          # brand-new group appears
        ],
        ["op", "g", "revenue"],
    )
    out = {
        r["g"]: r
        for r in R.incremental_agg_refresh(
            prev, delta, ["g"], ["revenue"]
        ).collect()
    }
    assert set(out) == {"a", "c"}
    assert out["a"]["revenue"] == 12.0 and out["a"]["n_rows"] == 2
    assert out["c"]["revenue"] == 7.0 and out["c"]["n_rows"] == 1


def test_incremental_agg_refresh_matches_recompute(spark):
    from streaming_demos_spark.catalog import load_table
    from streaming_demos_spark.operators import relational as R

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    key = F.col("o_orderkey")
    base_agg = orders.groupBy("o_orderstatus").agg(
        F.sum("o_totalprice").alias("revenue"), F.count("*").alias("n_rows")
    )
    deleted = orders.filter(key % 3 == 0)
    delta = deleted.select(
        F.lit("d").alias("op"),
        "o_orderstatus",
        F.col("o_totalprice").alias("revenue"),
    )
    inc = {
        r["o_orderstatus"]: (round(r["revenue"], 2), r["n_rows"])
        for r in R.incremental_agg_refresh(
            base_agg, delta, ["o_orderstatus"], ["revenue"]
        ).collect()
    }
    full = {
        r["o_orderstatus"]: (round(r["revenue"], 2), r["n_rows"])
        for r in orders.filter(key % 3 != 0)
        .groupBy("o_orderstatus")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count("*").alias("n_rows"))
        .collect()
    }
    assert inc == full


def test_data_quality_report_catches_violations(spark):
    from streaming_demos_spark.operators import relational as R

    fact = spark.createDataFrame(
        [(1, 10, 5.0), (1, 11, -2.0), (2, None, 3.0), (3, 99, 4.0)],
        "id long, fk long, v double",
    )
    dim = spark.createDataFrame([(10,), (11,)], "k long")
    out = {
        r["check"]: r
        for r in R.data_quality_report(
            fact,
            pk_cols=["id"],
            not_null_cols=["fk"],
            range_checks=[("v", 0.0, 100.0)],
            fks=[("fk", dim, "k", "fact_dim")],
        ).collect()
    }
    assert out["pk_unique_id"]["violations"] == 1  # id=1 twice
    assert out["not_null_fk"]["violations"] == 1
    assert out["range_v"]["violations"] == 1  # -2.0
    assert out["fk_fact_dim"]["violations"] == 1  # fk=99 orphan
    assert not any(r["passed"] for r in out.values())


def test_data_quality_scan_checks_share_one_pass(spark):
    from streaming_demos_spark.catalog import load_table
    from streaming_demos_spark.operators import relational as R

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    plan = (
        R.data_quality_report(
            orders,
            pk_cols=["o_orderkey"],
            not_null_cols=["o_custkey", "o_orderstatus"],
            range_checks=[("o_totalprice", 0.0, 1e9)],
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one table scan for all scan-side checks (no per-check rescan)
    assert plan.count("FileScan parquet") + plan.count("Scan parquet") <= 2


def test_sequence_gaps_finds_exact_runs(spark):
    from streaming_demos_spark.operators import relational as R

    # ids 0..99 with runs 10-12 and 50 missing, plus a trailing 97-99
    present = [i for i in range(100) if i not in {10, 11, 12, 50, 97, 98, 99}]
    df = spark.createDataFrame([(i,) for i in present], "event_id long")
    out = [
        (r.gap_start, r.gap_end, r.n_missing)
        for r in R.sequence_gaps(df, "event_id", bucket_width=16).collect()
    ]
    # trailing 97-99 is beyond max(present)=96 -> not a gap by definition
    assert out == [(10, 12, 3), (50, 50, 1)]


def test_sequence_gaps_empty_and_dense(spark):
    from streaming_demos_spark.operators import relational as R

    empty = spark.createDataFrame([], "event_id long")
    assert R.sequence_gaps(empty, "event_id").count() == 0
    dense = spark.createDataFrame([(i,) for i in range(500)], "event_id long")
    assert R.sequence_gaps(dense, "event_id", bucket_width=64).count() == 0


def test_sequence_gaps_complete_buckets_pruned(spark):
    from streaming_demos_spark.operators import relational as R

    # One missing id in a 10k-dense sequence: the candidate explode must
    # stay bucket-sized, never range-sized. Proven by the output.
    df = spark.createDataFrame(
        [(i,) for i in range(10000) if i != 7777], "event_id long"
    )
    out = R.sequence_gaps(df, "event_id", bucket_width=256).collect()
    assert [(r.gap_start, r.gap_end) for r in out] == [(7777, 7777)]


def test_robust_anomalies_immune_to_outlier_contamination(spark):
    from streaming_demos_spark.operators import relational as R

    # 20 values at ~10 plus two extreme outliers: mean/std would be
    # dragged so far the outliers look mild; median/MAD flags exactly
    # the two planted rows.
    rows = [("k", 10.0 + (i % 5) * 0.1, i) for i in range(20)]
    rows += [("k", 1000.0, 100), ("k", -1000.0, 101)]
    df = spark.createDataFrame(rows, ["key", "v", "rid"])
    out = R.robust_anomalies(df, "key", "v", "rid", threshold=3.5).collect()
    assert {r.rid for r in out} == {100, 101}


def test_robust_anomalies_constant_key_no_crash(spark):
    from streaming_demos_spark.operators import relational as R

    # MAD = 0 (constant values): NULL scores, nothing flagged, no abort.
    df = spark.createDataFrame(
        [("c", 5.0, i) for i in range(6)] + [("c", 5.1, 9)],
        ["key", "v", "rid"],
    )
    assert R.robust_anomalies(df, "key", "v", "rid").count() == 0


def test_perceptual_hash_identical_payloads_collide(spark):
    from streaming_demos_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(1, "same payload bytes"), (2, "same payload bytes"),
         (3, "completely different content here")],
        "doc_id int, text string",
    )
    media = MM.as_media(df, "doc_id", "text")
    h = {r.media_id: r.ahash
         for r in MM.perceptual_hash(media).collect()}
    assert h[1] == h[2] and len(h[1]) == 64
    assert set(h[1]) <= {"0", "1"}
    assert h[1] != h[3]


def test_phash_near_dup_pairs_banding_and_hamming(spark):
    from streaming_demos_spark.operators import multimodal as MM

    base = "0" * 64
    one_flip = "1" + "0" * 63           # hamming 1, shares 3 bands
    far = ("10" * 32)                   # hamming 32, no shared band
    df = spark.createDataFrame(
        [(1, base), (2, one_flip), (3, far)],
        "media_id long, ahash string",
    )
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in MM.phash_near_dup_pairs(df, max_hamming=8).collect()}
    assert pairs == {(1, 2): 1}


def test_phash_near_dup_null_hash_dropped(spark):
    from streaming_demos_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(1, "0" * 64), (2, None)], "media_id long, ahash string"
    )
    assert MM.phash_near_dup_pairs(df).count() == 0


def test_grouped_trend_recovers_planted_line(spark):
    from streaming_demos_spark.operators import relational as R

    rows = [("a", float(x), 3.0 * x + 7.0) for x in range(10)]
    rows += [("b", float(x), 5.0) for x in range(4)]  # flat line
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r.g: r for r in R.grouped_trend(df, "g", "x", "y").collect()}
    assert out["a"].slope == 3.0 and out["a"].intercept == 7.0
    assert out["a"].r2 == 1.0
    assert out["b"].slope == 0.0 and out["b"].intercept == 5.0
    # r2 of a flat y is 0/0 -> NULL, not an abort
    assert out["b"].r2 is None


def test_grouped_trend_constant_x_yields_null(spark):
    from streaming_demos_spark.operators import relational as R

    df = spark.createDataFrame(
        [("g", 2.0, 1.0), ("g", 2.0, 9.0)], "g string, x double, y double"
    )
    row = R.grouped_trend(df, "g", "x", "y").collect()[0]
    assert row.slope is None and row.intercept is None


def test_mutual_information_independent_and_determined(spark):
    import math

    from streaming_demos_spark.operators import relational as R

    # independent: uniform 2x2 -> MI 0, chi2 0, dof 1
    ind = spark.createDataFrame(
        [("a", "u"), ("a", "v"), ("b", "u"), ("b", "v")] * 5,
        "x string, y string",
    )
    r = R.mutual_information(ind, "x", "y").collect()[0]
    assert r.mutual_info_bits == 0.0 and r.chi2_e6 == 0 and r.dof == 1
    # fully determined: y == x -> MI = H(X) = 1 bit for uniform binary
    det = spark.createDataFrame(
        [("a", "a"), ("b", "b")] * 10, "x string, y string"
    )
    r2 = R.mutual_information(det, "x", "y").collect()[0]
    assert abs(r2.mutual_info_bits - 1.0) < 1e-9
    assert r2.chi2_e6 == 20000000  # n * phi2 for perfect association


def test_impute_mode_fills_with_group_mode(spark):
    from streaming_demos_spark.operators import relational as R

    rows = [
        (1, "g1", "x"), (2, "g1", "x"), (3, "g1", "y"), (4, "g1", None),
        (5, "g2", None),  # group with no observed value stays NULL
    ]
    df = spark.createDataFrame(rows, "rid int, g string, v string")
    out = {r.rid: r for r in R.impute_mode(df, "g", "v").collect()}
    assert out[4].v_was_null and out[4].v_imputed == "x"
    assert not out[1].v_was_null and out[1].v_imputed == "x"
    assert out[3].v_imputed == "y"  # observed values never overwritten
    assert out[5].v_imputed is None


def test_cusum_changepoint_finds_planted_shift(spark):
    from streaming_demos_spark.operators import relational as R

    # level shifts from 0 to 10 at t=50 -> peak |CUSUM| lands at the
    # last pre-shift row (t=49), where S = -50*mean_dev is extreme.
    rows = [("k", t, t, 0.0 if t < 50 else 10.0) for t in range(100)]
    df = spark.createDataFrame(rows, "k string, ts int, rid int, v double")
    row = R.cusum_changepoint(df, "k", "ts", "v", "rid").collect()[0]
    assert row.changepoint_ts == 49
    # peak |S| = 50 * 5.0 (mean is 5.0) = 250
    assert row.peak_cusum == 250.0
    assert row.shift_score > 1.4  # strong-shift territory


def test_cusum_constant_series_scores_null(spark):
    from streaming_demos_spark.operators import relational as R

    df = spark.createDataFrame(
        [("k", t, t, 7.0) for t in range(10)],
        "k string, ts int, rid int, v double",
    )
    row = R.cusum_changepoint(df, "k", "ts", "v", "rid").collect()[0]
    assert row.peak_cusum == 0.0 and row.shift_score is None


def test_benford_profile_on_benford_sample(spark):
    import math

    from streaming_demos_spark.operators import relational as R

    # construct counts exactly proportional to Benford shares
    rows = []
    for d in range(1, 10):
        n = int(round(1000 * math.log10(1 + 1 / d)))
        rows += [(float(d) + 0.11,)] * n
    df = spark.createDataFrame(rows, "v double")
    out = {r.digit: r for r in R.benford_profile(df, "v").collect()}
    assert set(out) == {str(d) for d in range(1, 10)}
    # shares track the law closely -> every chi2 term small
    assert all(r.chi2_term < 0.1 for r in out.values())
    assert abs(out["1"].benford_share - round(math.log10(2), 6)) < 1e-9


def test_benford_profile_excludes_nonpositive(spark):
    from streaming_demos_spark.operators import relational as R

    df = spark.createDataFrame(
        [(0.0,), (-3.5,), (None,), (42.0,)], "v double"
    )
    out = {r.digit: r.n_values for r in R.benford_profile(df, "v").collect()}
    assert out == {"3": 1, "4": 1}  # abs(-3.5) counts, 0/NULL excluded


def test_gini_known_distributions(spark):
    from streaming_demos_spark.operators import relational as R

    rows = [("uniform", 5.0)] * 10
    rows += [("concentrated", 0.0)] * 9 + [("concentrated", 100.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r.g: r.gini_e6 for r in
           R.gini_coefficient(df, "g", "v").collect()}
    assert out["uniform"] == 0
    # one holder of all mass among n=10: G = (n-1)/n = 0.9
    assert out["concentrated"] == 900000


def test_ngram_novelty_order_and_bounds(spark):
    from streaming_demos_spark.operators import text as TX

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),          # everything novel
            (2, "a b c d e"),          # exact dup -> zero novelty
            (3, "a b c x y z"),        # partial overlap
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in TX.ngram_novelty(docs, k=3).collect()}
    assert out[1].novelty == 1.0
    assert out[2].novelty == 0.0
    # doc 3 shares only the "a b c" 3-gram with doc 1
    assert out[3].n_novel == out[3].n_shingles - 1
    for r in out.values():
        assert 0.0 <= r.novelty <= 1.0


def test_autocorrelation_detects_alternating_series(spark):
    from streaming_demos_spark.operators import relational as R

    # perfect alternation: acf(1) = -1, acf(2) = +1 (biased estimator
    # approaches these as n grows; use n=40 and a loose band)
    rows = [("k", t, t, float(t % 2)) for t in range(40)]
    df = spark.createDataFrame(rows, "k string, ts int, rid int, v double")
    out = {r.lag: r.acf for r in
           R.autocorrelation(df, "k", "ts", "v", "rid", max_lag=2).collect()}
    assert out[1] < -0.9 and out[2] > 0.9


def test_autocorrelation_constant_series_null(spark):
    from streaming_demos_spark.operators import relational as R

    df = spark.createDataFrame(
        [("k", t, t, 5.0) for t in range(10)],
        "k string, ts int, rid int, v double",
    )
    out = R.autocorrelation(df, "k", "ts", "v", "rid", max_lag=2).collect()
    assert all(r.acf is None for r in out)


def test_concentration_profile_counts_covering_keys(spark):
    from streaming_demos_spark.operators import relational as R

    # one group: key shares 70/20/5/5 -> 90% needs the top 2 keys
    rows = [("g", "a", 70.0), ("g", "b", 20.0), ("g", "c", 5.0),
            ("g", "d", 5.0)]
    df = spark.createDataFrame(rows, "g string, k string, v double")
    row = R.concentration_profile(df, "g", "k", "v", share=0.9).collect()[0]
    assert row.n_keys == 4 and row.n_covering == 2
    assert row.top1_share_e6 == 700000
    assert row.covering_frac_e6 == 500000


def test_concentration_uniform_needs_most_keys(spark):
    from streaming_demos_spark.operators import relational as R

    rows = [("g", f"k{i}", 1.0) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, k string, v double")
    row = R.concentration_profile(df, "g", "k", "v", share=0.9).collect()[0]
    assert row.n_covering == 9  # 9/10 keys to reach 90% of uniform mass


def test_kaplan_meier_textbook_example(spark):
    from streaming_demos_spark.operators import relational as R

    # classic: events at t=1 (1 of 5), t=3 (1 of 3); censored at 2, 4, 5
    rows = [(1, True), (2, False), (3, True), (4, False), (5, False)]
    df = spark.createDataFrame(rows, "d int, ev boolean")
    out = {r.d: r for r in R.kaplan_meier(df, "d", "ev").collect()}
    assert set(out) == {1, 3}  # only event times emitted
    import math

    assert out[1].n_at_risk == 5
    assert out[1].log_survival_e12 == round(math.log(1 - 1 / 5) * 1e12)
    # S(3) = (1 - 1/5) * (1 - 1/3): the log device sums per-step terms
    assert out[3].log_survival_e12 == (
        round(math.log(1 - 1 / 5) * 1e12)
        + round(math.log(1 - 1 / 3) * 1e12)
    )
    assert abs(math.exp(out[3].log_survival_e12 / 1e12) - 0.8 * 2 / 3) < 1e-9


def test_kaplan_meier_all_die_hits_zero(spark):
    from streaming_demos_spark.operators import relational as R

    df = spark.createDataFrame(
        [(1, True), (1, True), (2, True)], "d int, ev boolean"
    )
    out = {r.d: r.log_survival_e12
           for r in R.kaplan_meier(df, "d", "ev").collect()}
    assert out[2] is None  # last at-risk subject dies -> S = 0, no ln(0)


def test_jackknife_ci_covers_true_mean_and_shrinks(spark):
    from streaming_demos_spark.operators import relational as R

    rows = [(i, float((i * 37) % 101)) for i in range(2000)]
    df = spark.createDataFrame(rows, "rid int, v double")
    r = R.jackknife_mean_ci(df, "v", "rid", n_buckets=32).collect()[0]
    true_mean = sum(v for _, v in rows) / len(rows)
    assert abs(r.mean_e6 / 1e6 - true_mean) < 1e-6
    assert r.ci_lo < true_mean < r.ci_hi
    assert r.se < 3.0  # ~sd/sqrt(n) scale, far below the raw sd (~29)


def test_jackknife_ci_partitioning_invariant(spark):
    from streaming_demos_spark.operators import relational as R

    rows = [(i, float(i % 13)) for i in range(500)]
    df = spark.createDataFrame(rows, "rid int, v double")
    a = R.jackknife_mean_ci(df, "v", "rid").collect()[0]
    b = R.jackknife_mean_ci(df.repartition(7), "v", "rid").collect()[0]
    assert (a.mean_e6, a.se) == (b.mean_e6, b.se)


def test_ab_test_detects_planted_difference(spark):
    from streaming_demos_spark.operators import relational as R

    rows = [("a", i < 60) for i in range(100)]   # 60% convert
    rows += [("b", i < 40) for i in range(100)]  # 40% convert
    df = spark.createDataFrame(rows, "g string, conv boolean")
    r = R.ab_test_proportions(df, "g", F.col("conv"), "a", "b").collect()[0]
    assert r.rate_a_e6 == 600000 and r.rate_b_e6 == 400000
    assert r.lift_e6 == 200000
    # z = 0.2 / sqrt(0.5*0.5*(2/100)) = 2.828..., p ~ 0.0047
    assert abs(r.z - 2.828427) < 1e-5
    assert r.p_value < 0.01


def test_ab_test_identical_groups_null_z(spark):
    from streaming_demos_spark.operators import relational as R

    rows = [("a", True)] * 10 + [("b", True)] * 10  # pool = 1 -> se 0
    df = spark.createDataFrame(rows, "g string, conv boolean")
    r = R.ab_test_proportions(df, "g", F.col("conv"), "a", "b").collect()[0]
    assert r.lift_e6 == 0 and r.z is None


def test_whiten_embeddings_numpy_parity_and_identity_cov(spark):
    import numpy as np

    from streaming_demos_spark.operators import similarity as SIM

    rng_rows = [
        (i, [float((i * 7 + j * 13) % 11) - 5.0 for j in range(4)])
        for i in range(64)
    ]
    df = spark.createDataFrame(rng_rows, "vec_id int, embedding array<double>")
    out = {r.vec_id: np.asarray(r.whitened)
           for r in SIM.whiten_embeddings(df).collect()}
    W = np.stack([out[i] for i in range(64)])
    # whitened covariance is (numerically) the identity on non-degenerate
    # directions
    cov = W.T @ W / 64
    X = np.stack([np.asarray(v) for _, v in rng_rows])
    mu = X.mean(axis=0)
    C = (X - mu).T @ (X - mu) / 64
    nondegen = np.linalg.eigvalsh(C) > 1e-6
    # the 1e-6 component-grid snap on (mu, W) perturbs the whitened
    # covariance by ~|x|*d*1e-6 — identity within that budget
    assert np.allclose(np.diag(cov)[nondegen], 1.0, atol=1e-4)
    # parity with the independent numpy reference implementation
    # (shares only the published grid/rounding conventions) — near
    # bit-exact, not merely allclose
    from streaming_demos_spark.functions.numpy_ref import (
        whitening_transform,
    )

    mu_r, Wm = whitening_transform(X)
    ref = ((X - mu_r) @ Wm).round(9)
    assert np.allclose(W, ref, atol=1e-9)


def test_seasonal_profile_recovers_planted_hour_shape(spark):
    import datetime

    from streaming_demos_spark.operators import relational as R

    # value = 10 at hour 0, 20 at hour 12 (exactly, zero residual)
    rows = []
    for d in range(1, 11):
        rows.append(("k", datetime.datetime(2024, 1, d, 0, 30), 10.0))
        rows.append(("k", datetime.datetime(2024, 1, d, 12, 30), 20.0))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {r.hour_of_day: r for r in
           R.seasonal_profile(df, "k", "ts", "v").collect()}
    assert out[0].seasonal_offset_e4 == -50000
    assert out[12].seasonal_offset_e4 == 50000
    # hour explains everything: within-hour variance is 0
    assert out[0].hour_explains_e6 == 1000000
    assert out[12].hour_explains_e6 == 1000000


def test_funnel_step_times_strict_sequencing(spark):
    import datetime as dt

    from streaming_demos_spark.operators import relational as R

    base = dt.datetime(2024, 1, 1)

    def t(sec):
        return base + dt.timedelta(seconds=sec)

    rows = [
        # user 1 converts: view@0 -> click@10 -> purchase@40
        (1, t(0), 1, "view"), (1, t(10), 2, "click"),
        (1, t(40), 3, "purchase"),
        # user 2: click BEFORE view -> click never counts; converts
        # view@5 -> click@25 (20s), no purchase
        (2, t(1), 4, "click"), (2, t(5), 5, "view"), (2, t(25), 6, "click"),
        # user 3: view only
        (3, t(0), 7, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int, event_type string")
    out = {r.step_pair: r for r in R.funnel_step_times(
        df, "user_id", "ts", "event_type",
        stages=["view", "click", "purchase"]).collect()}
    vc = out["view->click"]
    assert vc.n_converted == 2
    assert vc.avg_ms == 15000  # (10 + 20) / 2 seconds
    assert vc.p50_us_x2 == 30000000  # 2x the interpolated 15 s median
    cp = out["click->purchase"]
    assert cp.n_converted == 1 and cp.avg_ms == 30000


def test_duplicate_events_boundary_and_id_order(spark):
    import datetime as dt

    from streaming_demos_spark.operators import relational as R

    base = dt.datetime(2024, 1, 1)

    def t(sec):
        return base + dt.timedelta(seconds=sec)

    rows = [
        # pair straddling a 60s bucket boundary where the LATER event
        # has the SMALLER id (the canonicalization regression case)
        (1, t(59), 9, "x"),
        (1, t(61), 2, "x"),
        # same type but 100s apart -> not a duplicate
        (1, t(200), 3, "x"),
        # different type within 1s -> not a duplicate
        (2, t(0), 4, "a"),
        (2, t(1), 5, "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, event_type string"
    )
    out = R.duplicate_events(
        df, "user_id", "ts", "event_type", "event_id", within_sec=60.0
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (2, 9)
    assert r.gap_ms == 2000
