"""``llm_*`` keys that compose operators/training.py: logistic-regression
quality classifiers, their evaluation and sweeps, and isotonic
calibration.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import training as TR
from streaming_demos_spark.queries import generated, key
from streaming_demos_spark.queries.llm_dedup import _sql_neardup_clusters


@key("llm_uncertainty_sample", oracle=lambda: f"""
            WITH s AS ({TR.sql_logreg_quality(iters=3, lr=1.0)})
            SELECT doc_id, quality_prob,
                   round(abs(quality_prob - 0.5), 6) AS margin
            FROM s
            ORDER BY margin ASC, doc_id ASC
            LIMIT 50
        """)
def q_uncertainty_sample(spark, sf_dir):
    # Active-learning batch: the 50 docs the learned quality filter is
    # least sure about — annotate-next selection via
    # TakeOrderedAndProject on the rounded margin
    # (training.py:uncertainty_sample).
    return TR.uncertainty_sample(
        _t(spark, sf_dir, "documents"), k=50, iters=3, lr=1.0
    )


@generated
def _isotonic_calibration_oracle(con, sf):
    """Pure-Python reference for llm_isotonic_calibration: an
    independent PAVA over the per-score purchase counts, replayed the
    way ext_relational._holt_forecast_oracle replays its fold."""
    grid = con.sql(f"""
        SELECT round(value, 0) AS score, count(*) AS n,
               sum((event_type = 'purchase')::INT) AS n_pos
        FROM read_parquet('{sf}/events.parquet')
        GROUP BY 1 ORDER BY 1
    """).fetchall()
    # O(n^2) re-scan PAVA (different style from the operator's
    # stack form; block means are exact integer ratios so any
    # correct PAVA lands on identical probabilities)
    blocks = [
        [int(n_pos), int(n), [float(score)]]
        for score, n, n_pos in grid
    ]
    changed = True
    while changed:
        changed = False
        i = 0
        while i + 1 < len(blocks):
            s1, w1, sc1 = blocks[i]
            s2, w2, sc2 = blocks[i + 1]
            if s1 * w2 >= s2 * w1:  # mean_i >= mean_{i+1}: pool
                blocks[i] = [s1 + s2, w1 + w2, sc1 + sc2]
                del blocks[i + 1]
                changed = True
            else:
                i += 1
    iso_rows = []
    per_score = {
        float(score): (int(n), int(n_pos))
        for score, n, n_pos in grid
    }
    for s, w, scores in blocks:
        p = round(s / w, 6)
        for sc in scores:
            n, n_pos = per_score[sc]
            iso_rows.append(
                "('all', %r, %d, %d, %r)" % (sc, n, n_pos, p)
            )
    return (
        "SELECT c0 AS \"group\", CAST(c1 AS DOUBLE) AS score,"
        " CAST(c2 AS BIGINT) AS n, CAST(c3 AS BIGINT) AS n_pos,"
        " CAST(c4 AS DOUBLE) AS iso_prob FROM (VALUES\n"
        + ",\n".join(iso_rows)
        + "\n) AS t(c0, c1, c2, c3, c4) ORDER BY score"
    )


@key("llm_isotonic_calibration", oracle=_isotonic_calibration_oracle)
def q_isotonic_calibration(spark, sf_dir):
    # Monotone calibration of "event value -> purchase probability":
    # PAVA over the distributed (score, n, positives) grid, block
    # means exact integer ratios (training.py:isotonic_calibration).
    ev = _t(spark, sf_dir, "events").select(
        F.round("value", 0).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return TR.isotonic_calibration(ev, "score", "label").orderBy("score")


@key("llm_lr_sweep", oracle=lambda: TR.sql_logreg_lr_sweep(
            [0.1, 0.5, 1.0, 2.0], iters=3
        ))
def q_lr_sweep(spark, sf_dir):
    # Hyperparameter sweep with SHARED corpus scans: every learning
    # rate's gradient computed in the same aggregation pass (grid size
    # adds agg columns, not scans); final losses in one more pass
    # (training.py:logreg_lr_sweep).
    return TR.logreg_lr_sweep(
        _t(spark, sf_dir, "documents"), lrs=[0.1, 0.5, 1.0, 2.0], iters=3
    )


@key("llm_quality_eval", oracle=lambda: TR.sql_logreg_quality_eval(
            _sql_neardup_clusters(threshold=0.1),
            iters=3,
            lr=1.0,
            holdout_pct=30,
        ))
def q_quality_eval(spark, sf_dir):
    # The capstone composition: near-dup CLUSTER split (no holdout
    # contamination) -> fit the quality logreg on train only -> exact
    # Mann-Whitney AUC on the holdout. One row (auc, n_train,
    # n_holdout); oracle replays split + GD + AUC end-to-end
    # (training.py:quality_eval_leakage_free).
    return TR.quality_eval_leakage_free(
        _t(spark, sf_dir, "documents"), iters=3, lr=1.0, holdout_pct=30
    )


@key(
    "llm_quality_classifier",
    oracle=lambda: TR.sql_logreg_quality(iters=3, lr=1.0),
)
def q_quality_classifier(spark, sf_dir):
    # LEARNED quality filter: logistic regression fit by 3 distributed
    # full-batch GD steps (each = one map-side-combinable aggregation;
    # only d+1 doubles reach the driver), then a map-only scoring pass
    # with the weights folded in as literals (training.py).
    return TR.quality_classifier_scores(
        _t(spark, sf_dir, "documents"), iters=3, lr=1.0
    )
