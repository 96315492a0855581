"""LinUCB tests (SURVEY.md §5.2): batch fit vs a direct numpy oracle to
1e-9, scoring math, streaming-update ≡ batch-fit equivalence (the same
log replayed through the stateful trainer must yield identical
matrices), and the offline eval metrics on a hand-computed log."""

from __future__ import annotations

import contextlib
import io
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from streaming_demos_spark.functions import features as FE
from streaming_demos_spark.operators import linucb as LU

D = 3


def _make_log(d=D, n=200, products=4):
    rng = np.random.default_rng(1237)
    rows = []
    for i in range(n):
        pid = str(i % products)
        x = rng.normal(size=d).round(4).tolist()
        r = int(rng.random() < 0.3)
        rows.append((pid, x, float(r)))
    return rows


LOG = _make_log()


def _feedback(spark, rows):
    df = spark.createDataFrame(rows, ["product_id", "context_vector", "reward"])
    return df.withColumn("context_vector", F.col("context_vector").cast("array<double>"))


@pytest.fixture(scope="module")
def feedback(spark):
    return _feedback(spark, LOG)


def _numpy_oracle(rows, lam=1.0):
    by_pid = {}
    for pid, x, r in rows:
        by_pid.setdefault(pid, []).append((x, r))
    out = {}
    for pid, hist in by_pid.items():
        X = np.array([x for x, _ in hist])
        r = np.array([r for _, r in hist])
        A = lam * np.eye(X.shape[1]) + X.T @ X
        out[pid] = (np.linalg.inv(A), X.T @ r)
    return out


# d = 6 is the reference's operating point (the linucb.py docstring).
@pytest.mark.parametrize("dim", [D, 6])
def test_fit_batch_matches_numpy_oracle(spark, dim):
    log = _make_log(dim)
    oracle = _numpy_oracle(log)
    models = {r.product_id: r for r in LU.fit_batch(_feedback(spark, log), d=dim).collect()}
    assert set(models) == set(oracle)
    for pid, (a_inv, b) in oracle.items():
        np.testing.assert_allclose(np.array(models[pid].a_inv), a_inv, atol=1e-9)
        np.testing.assert_allclose(np.array(models[pid].b), b, atol=1e-9)


def test_score_matches_numpy(feedback):
    x = [0.3, -0.2, 1.1]
    alpha = 0.7
    models = LU.fit_batch(feedback, d=D)
    scored = {r.product_id: r.score for r in LU.score_models(models, x, alpha).collect()}
    oracle = _numpy_oracle(LOG)
    xv = np.array(x)
    for pid, (a_inv, b) in oracle.items():
        want = xv @ (a_inv @ b) + alpha * np.sqrt(xv @ a_inv @ xv)
        assert abs(scored[pid] - want) < 1e-9


def test_recommend_top_k_deterministic(feedback):
    models = LU.fit_batch(feedback, d=D)
    out = LU.recommend_top_k(models, x=[1.0, 0.0, 0.0], alpha=1.0, k=3).collect()
    assert len(out) == 3
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)


@pytest.mark.parametrize("dim", [D, 6])
def test_stream_update_equals_batch_fit(spark, scratch_dir, dim):
    """Replay the same log through the stateful streaming trainer in
    TWO micro-batches; the final per-key model must equal the batch fit
    to 1e-9 (SURVEY §5.2's batch/stream equivalence gate)."""
    feedback = _feedback(spark, _make_log(dim))
    d = tempfile.mkdtemp(prefix="sparkgraft_linucb_", dir=scratch_dir)
    try:
        # two files -> two micro-batches (state carries across)
        half1, half2 = feedback.randomSplit([0.5, 0.5], seed=7)
        import glob
        import os

        src = f"{d}/src"
        os.makedirs(src)
        for i, part in enumerate([half1, half2]):
            tmp = f"{d}/tmp{i}"
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            f = glob.glob(f"{tmp}/part-*.parquet")[0]
            dst = f"{src}/f{i}.parquet"
            shutil.copy(f, dst)
            os.utime(dst, (1_000_000 * (i + 1),) * 2)

        stream = spark.readStream.schema(feedback.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        updates = LU.fit_batch(stream, d=dim)
        q = (
            updates.writeStream.format("memory")
            .queryName("linucb_updates")
            .option("checkpointLocation", f"{d}/chk")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # the sums live in the JVM state store, not in Python state
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain(True)
        assert "StateStoreSave" in buf.getvalue()
        assert "FlatMapGroupsInPandasWithState" not in buf.getvalue()
        # the emission with the highest n_obs per key is the final model
        emitted = spark.sql(
            """SELECT product_id, a_inv, b FROM (
                   SELECT *, row_number() OVER (
                       PARTITION BY product_id ORDER BY n_obs DESC) rn
                   FROM linucb_updates)
               WHERE rn = 1"""
        ).collect()
        batch_models = {r.product_id: r for r in LU.fit_batch(feedback, d=dim).collect()}
        assert len(emitted) == len(batch_models)
        for r in emitted:
            np.testing.assert_allclose(
                np.array(r.a_inv), np.array(batch_models[r.product_id].a_inv), atol=1e-9
            )
            np.testing.assert_allclose(
                np.array(r.b), np.array(batch_models[r.product_id].b), atol=1e-9
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_full_loop_seed_stream_publish_score(spark, feedback, scratch_dir):
    """§3.3's whole feedback loop: batch-seed models into the KV store
    (S9b + S13), stream the remaining log through the stateful trainer
    publishing via the model sink, then serve: fetch models (S14) and
    score top-k. The served model must reflect BOTH the seed history and
    the streamed events (stream resumes from per-key state re-seeded by
    the batch? No — Spark state starts cold, so the loop here seeds the
    store, streams the SAME full log, and the final fetched models must
    equal the batch fit — publish/fetch/score wiring proven end-to-end)."""
    import glob
    import os

    from streaming_demos_spark import sinks as SK

    d = tempfile.mkdtemp(prefix="sparkgraft_loop_", dir=scratch_dir)
    try:
        kv = SK.InMemoryKV()
        # seed: batch fit over the full log -> publish (S9b ordering)
        def seed():
            SK.publish_models(LU.fit_batch(feedback, d=D), kv)

        def start():
            src = f"{d}/src"
            os.makedirs(src)
            tmp = f"{d}/tmp"
            feedback.coalesce(1).write.mode("overwrite").parquet(tmp)
            shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/f.parquet")
            stream = spark.readStream.schema(feedback.schema).parquet(src)
            return (
                LU.fit_batch(stream, d=D)
                .writeStream.foreachBatch(SK.model_sink(kv))
                .outputMode("update")
                .option("checkpointLocation", f"{d}/chk")
                .trigger(availableNow=True)
                .start()
            )

        from streaming_demos_spark.streaming.bootstrap import seed_then_stream

        q = seed_then_stream(seed, start)
        q.awaitTermination(180)

        pids = sorted({pid for pid, _, _ in LOG})
        served = LU.fit_batch(feedback, d=D)  # numpy-checked reference
        fetched = SK.fetch_models(spark, kv, pids, d=D)
        batch = {r.product_id: r for r in served.collect()}
        for r in fetched.collect():
            np.testing.assert_allclose(
                np.array(r.a_inv), np.array(batch[r.product_id].a_inv), atol=1e-9
            )
        # cold key falls back to the lam-identity prior
        cold = SK.fetch_models(spark, kv, ["missing"], d=D).collect()[0]
        np.testing.assert_allclose(np.array(cold.a_inv), np.eye(D), atol=0)
        # serve: top-k over the fetched models runs end-to-end
        top = LU.recommend_top_k(fetched, x=[1.0, 0.0, 0.0], alpha=1.0, k=2).collect()
        assert len(top) == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_eval_ranking_hand_computed(spark):
    # 2 users, k=2. u1: top2 = {p1(1), p2(0)}, positives=2 -> P=0.5, R=0.5
    #               u2: top2 = {p1(1), p2(1)}, positives=2 -> P=1.0, R=1.0
    rows = [
        ("u1", "p1", 0.9, 1.0),
        ("u1", "p2", 0.8, 0.0),
        ("u1", "p3", 0.1, 1.0),
        ("u2", "p1", 0.9, 1.0),
        ("u2", "p2", 0.8, 1.0),
        ("u2", "p3", 0.7, 0.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "product_id", "score", "reward"])
    m = LU.eval_ranking(df, k=2).collect()[0]
    assert m.ctr_at_k == 0.75          # 3 hits / 4 recs
    assert m.precision_at_k == 0.75    # mean(0.5, 1.0)
    assert m.recall_at_k == 0.75       # mean(0.5, 1.0)


def test_auc_hand_computed_with_ties(spark):
    # scores: 0.9(+), 0.8(-), 0.8(+), 0.5(-), 0.5(-), 0.3(+)
    # ascending ranks: 0.3->1; 0.5->(2,3) avg 2.5; 0.8->(4,5) avg 4.5; 0.9->6
    # sum ranks of positives = 1 + 4.5 + 6 = 11.5; n+=3, n-=3
    # AUC = (11.5 - 3*4/2) / 9 = 5.5/9 = 0.611111
    rows = [(0.9, 1), (0.8, 0), (0.8, 1), (0.5, 0), (0.5, 0), (0.3, 1)]
    df = spark.createDataFrame(rows, ["score", "reward"])
    assert LU.auc(df).collect()[0].auc == 0.611111


def test_auc_perfect_and_random(spark):
    perfect = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], ["score", "reward"]
    )
    assert LU.auc(perfect).collect()[0].auc == 1.0
    inverted = spark.createDataFrame(
        [(0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1)], ["score", "reward"]
    )
    assert LU.auc(inverted).collect()[0].auc == 0.0


def test_one_hot_and_minmax_and_flag(spark):
    df = spark.createDataFrame(
        [(1, "a", 0.0), (2, "b", 5.0), (3, "c", 10.0)], ["id", "cat", "v"]
    )
    out = FE.one_hot(df, "cat", ["a", "b"])
    out = FE.min_max_scale(out, ["v"])
    out = FE.flag_in(out, "cat", ["a", "c"], "ac_flag")
    rows = {r.id: r for r in out.collect()}
    assert (rows[1].cat_a, rows[1].cat_b) == (1, 0)
    assert (rows[3].cat_a, rows[3].cat_b) == (0, 0)   # unknown -> all zeros
    assert rows[2].v_scaled == 0.5
    assert (rows[1].ac_flag, rows[2].ac_flag, rows[3].ac_flag) == (1, 0, 1)


def test_minmax_constant_column(spark):
    df = spark.createDataFrame([(1, 7.0), (2, 7.0)], ["id", "v"])
    vals = [r.v_scaled for r in FE.min_max_scale(df, ["v"]).collect()]
    assert vals == [0.0, 0.0]


def test_publish_and_fetch_models_roundtrip(spark, feedback):
    """S13/S14: publish batch-fit models to the KV store, fetch them
    back (plus a cold key), score — the serve loop end-to-end."""
    from streaming_demos_spark import sinks as SK

    kv = SK.InMemoryKV()
    models = LU.fit_batch(feedback, d=D)
    n = SK.publish_models(models, kv)
    assert n == 4 and "linucb:0" in kv.data

    fetched = SK.fetch_models(spark, kv, ["0", "1", "2", "3", "cold"], d=D)
    got = {r.product_id: r for r in fetched.collect()}
    orig = {r.product_id: r for r in models.collect()}
    for pid in ["0", "1", "2", "3"]:
        np.testing.assert_allclose(got[pid].a_inv, orig[pid].a_inv, atol=1e-12)
    # cold key: identity prior, zero b -> score = ucb term only
    np.testing.assert_allclose(got["cold"].a_inv, np.eye(D), atol=1e-12)
    scored = {r.product_id: r.score for r in LU.score_models(fetched, [1.0, 0.0, 0.0]).collect()}
    assert abs(scored["cold"] - 1.0) < 1e-9


def test_model_sink_foreachbatch_picks_latest(spark):
    from streaming_demos_spark import sinks as SK

    kv = SK.InMemoryKV()
    batch = spark.createDataFrame(
        [("p1", [[1.0]], [0.5], 10), ("p1", [[2.0]], [0.7], 20)],
        "product_id string, a_inv array<array<double>>, b array<double>, n_obs long",
    )
    SK.model_sink(kv)(batch, 0)
    import json as _json

    assert _json.loads(kv.data["linucb:p1"])["A_inv"] == [[2.0]]


def test_redis_client_gated():
    from streaming_demos_spark import sinks as SK

    with pytest.raises(NotImplementedError):
        SK.redis_client()


def _filekv_factory(root: str):
    """mset-capable client writing through the filesystem — lets the
    executor-side publish path be exercised in local mode, where an
    InMemoryKV copy mutated inside a Python worker would be lost. The
    class is nested so cloudpickle ships it by VALUE; a test-module
    top-level class would pickle by reference and fail to import on
    workers."""

    def factory():
        class FileKV:
            def mset(self, mapping: dict) -> None:
                import json as _json
                import os
                import uuid

                path = os.path.join(root, f"{uuid.uuid4().hex}.json")
                with open(path, "w") as fh:
                    _json.dump(mapping, fh)

        return FileKV()

    return factory


def test_publish_models_sharded_kv_factory(spark, feedback, tmp_path):
    """Large-P publish path: per-partition mset via kv_factory, no
    driver-side model materialization; chunking exercised batch_size=2."""
    import glob
    import json as _json

    from streaming_demos_spark import sinks as SK

    root = str(tmp_path)
    models = LU.fit_batch(feedback, d=D).repartition(3)
    n = SK.publish_models(models, kv_factory=_filekv_factory(root), batch_size=2)
    assert n == 4
    merged = {}
    for f in glob.glob(f"{root}/*.json"):
        with open(f) as fh:
            merged.update(_json.load(fh))
    assert set(merged) == {"linucb:0", "linucb:1", "linucb:2", "linucb:3"}
    orig = {r.product_id: r for r in models.collect()}
    for pid in ["0", "1", "2", "3"]:
        payload = _json.loads(merged[f"linucb:{pid}"])
        np.testing.assert_allclose(payload["A_inv"], orig[pid].a_inv, atol=1e-12)

    with pytest.raises(ValueError):
        SK.publish_models(models)
