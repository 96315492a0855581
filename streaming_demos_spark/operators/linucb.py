"""Disjoint LinUCB contextual bandit: fit (batch and streaming),
scoring, and offline evaluation (SURVEY.md A10-A12, J3, §2.10).

Reference parity (files under /root/reference/product-recommender):
- batch fit:        recsys-engine/src/bandit_manager.py:57-107
                    (A = λI + XᵀX, b = Xᵀy per product; "INVERT A HERE
                    (The Optimization)" — store A⁻¹, not A, :97-103)
- streaming update: recsys-trainer/src/main/kotlin/me/jaehyeon/topology/
                    processing/LinUCBUpdater.kt:28-131 (keyed state
                    A += x·xᵀ, b += r·x; 5s timer -> invert + emit)
- scoring:          recsys-engine/eda_recommender.py:78-126
                    (θ = A⁻¹b, s = x·θ + α·√(xᵀA⁻¹x), top-5)
- offline eval:     recsys-engine/evaluate.py:57-108 (CTR/P@k/R@k over a
                    time-ordered 80/20 split)

Spark mapping: the reference's per-product python loop
(bandit_manager.py:83-95 filters the log once per product — O(P·N)) is
restated as ONE ``groupBy(product).agg`` (J3). A and b are plain sums,
so the JVM aggregate holds them: d² sums of x_i·x_j (λ added on the
diagonal), d sums of r·x_i and the row count — d²+d+1 aggregates, 43
at the reference's d = 6 (the planner merges x_i·x_j with x_j·x_i, so
the hash aggregate keeps 28), partially combined map-side. Python sees
only the P aggregated rows, which one numpy ``pandas_udf`` inverts.
The same plan is the streaming update (T9/T10): on a streaming frame
written in ``update`` mode the sums live in Spark's state store and
each micro-batch — the reference's 5s timer — emits every changed key
once, re-inverted. Scoring is one SQL expression over the model
table, the small side: P × (d²+d) doubles, kilobytes at the
reference's P = 200. At large P, publishing goes through
``sinks.publish_models``'s sharded ``kv_factory`` path (per-partition
mset, nothing driver-side).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_demos_spark.functions.scalars import round_dp
from streaming_demos_spark.functions.sqlfrag import dbl, dbl_array, dot, q


def fit_batch(
    feedback: DataFrame,
    d: int,
    lam: float = 1.0,
    key_col: str = "product_id",
    x_col: str = "context_vector",
    r_col: str = "reward",
) -> DataFrame:
    """LinUCB fit: per product, A = λI + XᵀX, b = Xᵀr, emit
    (product, A⁻¹, b, n_obs) (bandit_manager.py:57-107 restated as J3's
    grouped aggregate). ``n_obs`` counts the rows folded in; it
    versions the model, so sinks can keep the latest per key.

    On a streaming ``feedback`` this is the stateful trainer
    (LinUCBUpdater.kt:48-131): write it in ``update`` output mode and
    each trigger emits every key changed in it, with its running sums
    inverted. Run with ``trigger(processingTime='5 seconds')`` for the
    reference's cadence."""
    x = [f"{q(x_col)}[{i}]" for i in range(d)]
    a = ", ".join(
        (f"{dbl(lam)} + " if i == j else "") + f"sum({x[i]} * {x[j]})"
        for i in range(d) for j in range(d)
    )
    b = ", ".join(f"sum({q(r_col)} * {xi})" for xi in x)

    @F.pandas_udf("array<array<double>>")
    def _inverse(a_flat: pd.Series) -> pd.Series:
        a_inv = np.linalg.inv(np.stack(a_flat.to_numpy()).reshape(-1, d, d))
        return pd.Series([m.tolist() for m in a_inv])

    stats = feedback.groupBy(key_col).agg(
        F.expr(f"array({a})").alias("a"),
        F.expr(f"array({b})").alias("b"),
        F.count("*").alias("n_obs"),
    )
    return stats.select(key_col, _inverse("a").alias("a_inv"), "b", "n_obs")


def score_models(
    models: DataFrame,
    x: list[float],
    alpha: float = 1.0,
    key_col: str = "product_id",
) -> DataFrame:
    """Serve-time scoring of ONE context against every product model:
    θ = A⁻¹b ; s = x·θ + α·√(xᵀA⁻¹x)  (eda_recommender.py:78-92), one
    SQL expression over the model columns, map-only."""
    xs = dbl_array(x)
    theta = f"transform(a_inv, row -> {dot('row', 'b')})"
    a_inv_x = f"transform(a_inv, row -> {dot('row', xs)})"
    score = f"{dot(xs, theta)} + {dbl(alpha)} * sqrt({dot(xs, a_inv_x)})"
    return models.select(key_col, F.expr(score).alias("score"))


def recommend_top_k(
    models: DataFrame, x: list[float], alpha: float = 1.0, k: int = 5,
    key_col: str = "product_id",
) -> DataFrame:
    """Top-k recommendations for one context (local_recommender.py:108-110):
    rounded score + unique key tie-break for determinism."""
    return (
        score_models(models, x, alpha, key_col)
        .select(key_col, round_dp(F.col("score"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(key_col))
        .limit(k)
    )


def auc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "reward",
) -> DataFrame:
    """Exact ROC-AUC as the Mann-Whitney rank statistic
    (evaluate.py:69-76's jurity AUC re-expressed as DataFrame aggs):
    AUC = (Σ ranks(positives) - n⁺(n⁺+1)/2) / (n⁺ n⁻), ties carrying
    average rank.

    Scale shape: rows are first reduced to one row per DISTINCT score
    (groupBy — map-side combinable); the rank cumulative runs as a
    window over that aggregated frame, whose cardinality is bounded by
    the score's precision (e.g. ≤1e6+1 for 6-dp scores in [0,1]), not
    the row count — so the un-partitioned window is over a small frame
    by construction, never the raw log."""
    from pyspark.sql import Window

    per_score = scored.groupBy(score_col).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col(label_col).cast("double")).alias("pos"),
    )
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "avg_rank",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)) + (F.col("cnt") + 1.0) / 2.0,
    )
    # try_divide: single-class label sets (all-reward or no-reward
    # windows are routine early in a serving loop) have n+*n- = 0 —
    # AUC is undefined there, so emit NULL, not an ANSI abort.
    return ranked.agg(
        F.round(
            F.try_divide(
                F.sum(F.col("pos") * F.col("avg_rank"))
                - F.sum("pos") * (F.sum("pos") + 1.0) / 2.0,
                F.sum("pos") * (F.sum("cnt") - F.sum("pos")),
            ),
            6,
        ).alias("auc")
    )


def eval_ranking(
    scored: DataFrame,
    user_col: str = "user_id",
    key_col: str = "product_id",
    score_col: str = "score",
    label_col: str = "reward",
    k: int = 5,
) -> DataFrame:
    """Offline ranking metrics over a scored interaction log
    (evaluate.py:57-108 re-expressed as DataFrame aggregates):
    - ctr_at_k:       mean label over recommended (top-k) rows
    - precision_at_k: per-user hits/k, averaged
    - recall_at_k:    per-user hits/positives, averaged (users with ≥1
                      positive)
    One shuffle on the user key for the ranking window; the metric
    aggregates are scalar."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.desc(score_col), F.asc(key_col))
    ranked = scored.withColumn("_rnk", F.row_number().over(w))
    per_user = ranked.groupBy(user_col).agg(
        F.sum(F.when(F.col("_rnk") <= k, F.col(label_col)).otherwise(0)).alias("hits"),
        F.sum(F.when(F.col("_rnk") <= k, 1).otherwise(0)).alias("recs"),
        F.sum(label_col).alias("positives"),
    )
    return per_user.agg(
        F.round(F.sum("hits") / F.sum("recs"), 6).alias("ctr_at_k"),
        F.round(F.avg(F.col("hits") / F.col("recs")), 6).alias("precision_at_k"),
        F.round(
            F.avg(
                F.when(
                    F.col("positives") > 0, F.col("hits") / F.col("positives")
                )
            ),
            6,
        ).alias("recall_at_k"),
    )


def ndcg_at_k(
    scored: DataFrame,
    user_col: str = "user_id",
    key_col: str = "product_id",
    score_col: str = "score",
    label_col: str = "reward",
    k: int = 5,
) -> DataFrame:
    """NDCG@k over a scored interaction log with binary labels
    (completes the evaluate.py:57-108 offline-eval family): per-user
    DCG = Σ label/log2(rank+1) over the top-k, normalized by the ideal
    DCG for that user's positive count, averaged over users with ≥1
    positive.

    The rank discounts (and their cumulative sums for the ideal) are
    precomputed DRIVER-SIDE and injected as 12-dp double literals: k is
    tiny, and JVM and C log2 can disagree in the last ulp, so baking
    identical constants into both this plan and any oracle makes the
    metric bit-reproducible across engines. Same scale shape as
    eval_ranking: one shuffle on the user key, scalar final aggregate.
    """
    import math

    from pyspark.sql import Window

    disc = [round(1.0 / math.log2(i + 1), 12) for i in range(1, k + 1)]
    cum = [round(sum(disc[: m + 1]), 12) for m in range(k)]
    w = Window.partitionBy(user_col).orderBy(F.desc(score_col), F.asc(key_col))
    ranked = scored.withColumn("_rnk", F.row_number().over(w))
    disc_arr = F.array(*[F.lit(d) for d in disc])
    gain = (
        F.when(
            F.col("_rnk") <= k,
            F.col(label_col).cast("double") * F.element_at(disc_arr, F.col("_rnk")),
        )
        .otherwise(F.lit(0.0))
    )
    per_user = ranked.groupBy(user_col).agg(
        F.sum(gain).alias("dcg"),
        F.sum(label_col).alias("positives"),
    )
    cum_arr = F.array(*[F.lit(c) for c in cum])
    idcg = F.element_at(
        cum_arr, F.least(F.col("positives"), F.lit(k)).cast("int")
    )
    return (
        per_user.filter(F.col("positives") > 0)
        .agg(F.round(F.avg(F.col("dcg") / idcg), 6).alias("ndcg_at_k"))
    )


def calibration_bins(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-curve binning — the offline-eval companion to AUC:
    bucket predictions into ``n_bins`` equal-width score bins and
    report, per bin, the support, the mean predicted score and the
    observed positive rate. A calibrated model tracks the diagonal;
    AUC alone can't see systematic over/under-confidence.

    One map-side bin assignment + one ``n_bins``-group combinable
    aggregate — constant output size, linear scan, no window."""
    b = F.least(F.floor(F.col(score_col) * n_bins), F.lit(n_bins - 1)).cast("int")
    # scores quantize to exact e6 integers per row (callers pre-round
    # at <= 6 dp), so both bin means are RATIONALS emitted as half-up
    # e6 integers — a 4-dp rounded mean of terminating decimals can
    # land on a midpoint and diverge across engine builds.
    s_e6 = F.expr(f"cast(round({score_col} * 1000000) as bigint)")
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.sum(s_e6).alias("_ss"),
            F.sum(F.col(label_col).cast("long")).alias("_k"),
        )
        .select(
            "bin",
            "n",
            F.expr("(_ss * 2 + n) div (2 * n)").alias("mean_score_e6"),
            F.expr("cast((cast(_k as decimal(38,0)) * 1000000 * 2 + n)"
                   " div (2 * n) as bigint)").alias(
                "pos_rate_e6"
            ),
        )
        .orderBy("bin")
    )
