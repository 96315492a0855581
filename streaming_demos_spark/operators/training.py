"""Distributed model fitting for corpus curation (learned quality filter).

The reference's ML surface fits per-key models inside the serving loop
(LinUCB: product-demos/recommender/model.py) and filters documents with
fixed heuristics; production LLM pipelines replace the heuristic with a
LEARNED quality classifier (fastText/logreg trained on in-domain vs
out-of-domain text) applied to the whole corpus. This module implements
that training shape Spark-first:

- Full-batch gradient descent on logistic loss, where each iteration is
  ONE map-side-combinable aggregation: executors compute partial sums of
  ``(sigmoid(w.x) - y) * x_j`` and only a single (d+1)-element gradient
  row reaches the driver. Weights live driver-side (d+1 doubles — truly
  tiny, unlike a per-key model table) and re-enter the plan as literals,
  i.e. broadcast-by-constant-folding.
- At 100 TB each iteration costs exactly one corpus scan plus a 1-row
  final aggregation; there is no per-row Python, no weight shuffle, and
  the feature projection is whole-stage-codegen column arithmetic.
- Scoring is a map-only pass (no shuffle at all).

Determinism contract (oracle-provable): features are plain column
arithmetic mirrored in ANSI SQL, the iteration count is fixed, and both
engines carry full-precision doubles between iterations — only the final
score is rounded, in both engines, so summation-order ulps cannot flip
the hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "logreg_fit",
    "logreg_score",
    "quality_features",
    "quality_classifier_scores",
]


def _sigmoid(z: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _margin(feature_cols: list[str], weights: list[float]) -> Column:
    """w . x + b as a literal-coefficient column expression (the weights
    are driver-side constants, so Catalyst folds them into codegen)."""
    z = F.lit(float(weights[-1]))
    for c, w in zip(feature_cols, weights[:-1]):
        z = z + F.lit(float(w)) * F.col(c)
    return z


def logreg_fit(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    *,
    iters: int = 3,
    lr: float = 1.0,
    l2: float = 0.0,
) -> list[float]:
    """Fit logistic regression by full-batch gradient descent; returns
    ``[w_1..w_d, bias]``.

    Each iteration aggregates ``avg((sigmoid(w.x) - y) * x_j)`` for every
    feature plus the bias term — a single job whose partial aggregation
    happens map-side; the driver receives d+1 doubles per iteration and
    never any row data. ``df`` is persisted across the ``iters`` scans
    and unpersisted before returning.

    Deterministic: zero init, fixed iteration count, no sampling. Label
    must be 0.0/1.0 doubles.
    """
    d = len(feature_cols)
    weights = [0.0] * (d + 1)
    cached = df.persist()
    try:
        for _ in range(iters):
            err = _sigmoid(_margin(feature_cols, weights)) - F.col(label_col)
            grad_row = cached.agg(
                *[F.avg(err * F.col(c)).alias(f"g{j}") for j, c in enumerate(feature_cols)],
                F.avg(err).alias("gb"),
            ).first()
            if grad_row["gb"] is None:
                # avg over zero rows is NULL — fail loudly rather than
                # silently returning the zero-init weights.
                raise ValueError("logreg_fit: empty training input")
            grads = [grad_row[f"g{j}"] for j in range(d)] + [grad_row["gb"]]
            weights = [
                w - lr * (g + l2 * w) for w, g in zip(weights, grads)
            ]
    finally:
        cached.unpersist()
    return weights


# --- single-parse SQL fragments for the fused GD builders -------------------
# (construction-cost note in text.py: each Column operator call is a
# py4j round trip at ~1ms; one selectExpr ships every projection in a
# single round trip and parses to the IDENTICAL unresolved tree —
# left-associative +, D-suffixed double literals, backquoted
# identifiers. Equality is pinned by the bit-identical-to-eager tests
# and the oracle hashes of every consumer key.)


def _sigmoid_sql(z: str) -> str:
    return f"(1.0D / (1.0D + exp(-({z}))))"


def _margin_sql(
    feature_cols: list[str],
    weights: list[float] | None = None,
    prefix: str = "_w",
) -> str:
    """SQL text of ``_margin``: literal weights when ``weights`` is
    given, else the columns ``{prefix}{j}`` / ``{prefix}b`` of a
    crossJoined 1-row weight frame; same accumulation order."""
    if weights is not None:
        z = f"{float(weights[-1])!r}D"
        for c, w in zip(feature_cols, weights[:-1]):
            z = f"({z} + ({float(w)!r}D * `{c}`))"
        return z
    z = f"`{prefix}b`"
    for j, c in enumerate(feature_cols):
        z = f"({z} + (`{prefix}{j}` * `{c}`))"
    return z


def logreg_fit_frame(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    *,
    iters: int = 3,
    lr: float = 1.0,
    l2: float = 0.0,
) -> DataFrame:
    """``logreg_fit`` as ONE lazy plan: returns a 1-row DataFrame with
    columns ``_w0.._w{d-1}, _wb`` holding the fitted weights.

    The eager form pays one driver action (a full analysis + AQE cycle
    + py4j round trip) per GD iteration to pull d+1 doubles back and
    re-embed them as literals. Here iteration k's gradient aggregate
    crossJoins the PREVIOUS 1-row weight frame (broadcast — Spark
    builds each tiny BroadcastExchange bottom-up inside the consumer's
    single action), and the weight update is computed in the same
    1-row projection, carrying the old weights through the aggregate
    (``max`` over a constant column is that constant). The whole
    trajectory — and anything scored with it — materializes in ONE
    driver action.

    Bit-identical to ``logreg_fit`` by construction: the gradient
    aggregates, the update arithmetic ``w - lr*(g + l2*w)``, and the
    margin accumulation order are the same IEEE-754 double operations
    whether the weights travel as Python floats re-entering as
    literals or stay JVM-side as 1-row columns (verified empirically
    against the eager form and the DuckDB oracle on every consumer
    key). One behavioral difference: an EMPTY training input yields
    NULL weights (and NULL downstream scores) instead of the eager
    form's ValueError — callers on declared-query paths never feed an
    empty corpus, and the NULL cascade is loud in any oracle check.
    """
    d = len(feature_cols)
    lr_s, l2_s = f"{float(lr)!r}D", f"{float(l2)!r}D"
    cur: DataFrame | None = None
    for _ in range(iters):
        if cur is None:
            # iteration 1: zero weights as literals — the exact
            # expression shape of the eager form's first pass
            err = (
                f"({_sigmoid_sql(_margin_sql(feature_cols, [0.0] * (d + 1)))}"
                f" - `{label_col}`)"
            )
            g = df.selectExpr(
                *[f"avg({err} * `{c}`) AS `_g{j}`" for j, c in enumerate(feature_cols)],
                f"avg({err}) AS `_gb`",
            )
            cur = g.selectExpr(
                *[
                    f"(0.0D - ({lr_s} * (`_g{j}` + ({l2_s} * 0.0D)))) AS `_w{j}`"
                    for j in range(d)
                ],
                f"(0.0D - ({lr_s} * (`_gb` + ({l2_s} * 0.0D)))) AS `_wb`",
            )
            continue
        err = f"({_sigmoid_sql(_margin_sql(feature_cols))} - `{label_col}`)"
        g = df.crossJoin(F.broadcast(cur)).selectExpr(
            *[f"avg({err} * `{c}`) AS `_g{j}`" for j, c in enumerate(feature_cols)],
            f"avg({err}) AS `_gb`",
            # carry the (constant) previous weights through the agg so
            # the update projection below needs no second join
            *[f"max(`_w{j}`) AS `_ow{j}`" for j in range(d)],
            "max(`_wb`) AS `_owb`",
        )
        cur = g.selectExpr(
            *[
                f"(`_ow{j}` - ({lr_s} * (`_g{j}` + ({l2_s} * `_ow{j}`)))) AS `_w{j}`"
                for j in range(d)
            ],
            f"(`_owb` - ({lr_s} * (`_gb` + ({l2_s} * `_owb`)))) AS `_wb`",
        )
    return cur


def logreg_score_frame(
    df: DataFrame,
    feature_cols: list[str],
    weights: DataFrame,
    *,
    out_col: str = "score",
    dp: int = 6,
) -> DataFrame:
    """``logreg_score`` against a 1-row weight FRAME (from
    ``logreg_fit_frame``): crossJoin the broadcast weight row, score
    map-only with the identical margin accumulation order, drop the
    weight columns. Still zero shuffles on the data side."""
    wcols = {f"_w{j}" for j in range(len(feature_cols))} | {"_wb"}
    score = f"round({_sigmoid_sql(_margin_sql(feature_cols))}, {dp}) AS `{out_col}`"
    return df.crossJoin(F.broadcast(weights)).selectExpr(
        *[f"`{c}`" for c in df.columns if c not in wcols], score
    )


def logreg_score(
    df: DataFrame,
    feature_cols: list[str],
    weights: list[float],
    *,
    out_col: str = "score",
    dp: int = 6,
) -> DataFrame:
    """Map-only scoring pass: appends ``sigmoid(w.x + b)`` rounded to
    ``dp`` decimals. Weights enter as folded literals — zero shuffle."""
    return df.withColumn(
        out_col, F.round(_sigmoid(_margin(feature_cols, weights)), dp)
    )


def quality_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_lang: str = "en",
) -> DataFrame:
    """Deterministic quality-classifier features over the documents
    table, each expressible identically in ANSI SQL:

    - ``x1`` length in kilochars (the stored ``n_chars``),
    - ``x2`` whitespace token count / 100,
    - ``x3`` mean word length / 10 (chars net of separators; 0 for
      empty docs — guarded, no ANSI divide-by-zero),
    - ``y`` 1.0 when ``lang == label_lang`` (the in-domain proxy label;
      swap for human/model labels offline).
    """
    t = F.col(text_col)
    n_tok = F.size(F.split(F.lower(F.trim(t)), r"\s+"))
    mean_word_len = F.when(
        n_tok > 0, (F.length(t) - (n_tok - F.lit(1))) / (F.lit(10.0) * n_tok)
    ).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col),
        (F.col("n_chars") / F.lit(1000.0)).alias("x1"),
        (n_tok / F.lit(100.0)).alias("x2"),
        mean_word_len.alias("x3"),
        F.when(F.col("lang") == label_lang, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )


def quality_classifier_scores(
    docs: DataFrame,
    *,
    iters: int = 3,
    lr: float = 1.0,
    label_lang: str = "en",
    dp: int = 6,
) -> DataFrame:
    """End-to-end learned quality filter: build features, fit logreg by
    ``iters`` distributed GD steps, score every document map-only.
    Returns ``(doc_id, quality_prob)`` — the probability the document is
    in-domain under the freshly-fit classifier.

    The fit is the FUSED single-plan form (``logreg_fit_frame``): the
    eager loop paid one driver action + full analysis/AQE cycle per GD
    iteration; here the whole trajectory and the scoring pass
    materialize in the consumer's one action (guide §1.2 — driver-
    action floor). ``feats`` is persisted across the iteration scans
    exactly as the eager fit persisted it."""
    from streaming_demos_spark.catalog import bounded_persist

    feats = bounded_persist(quality_features(docs, label_lang=label_lang))
    w = logreg_fit_frame(feats, ["x1", "x2", "x3"], "y", iters=iters, lr=lr)
    return (
        logreg_score_frame(feats, ["x1", "x2", "x3"], w, out_col="quality_prob", dp=dp)
        .select("doc_id", "quality_prob")
        .orderBy("doc_id")
    )


def sql_logreg_quality(iters: int = 3, lr: float = 1.0, dp: int = 6) -> str:
    """DuckDB replay of ``quality_classifier_scores``: the same GD
    trajectory unrolled as chained CTEs (one aggregate CTE per
    iteration), full-precision doubles throughout, same final rounding.
    Generated here so iteration count/learning rate stay in one place."""
    sql = [
        """
        WITH w0 AS (
            SELECT doc_id, n_chars, text, lang,
                   string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents
        ),
        f AS (
            SELECT doc_id,
                   n_chars / 1000.0 AS x1,
                   len(words) / 100.0 AS x2,
                   CASE WHEN len(words) = 0 THEN 0.0
                        ELSE (length(text) - (len(words) - 1)) / (10.0 * len(words))
                   END AS x3,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
            FROM w0
        )"""
    ]
    margin = "0.0"
    prev = None
    for k in range(1, iters + 1):
        src = "f" if prev is None else f"f, {prev}"
        err = f"(1.0 / (1.0 + exp(-({margin}))) - y)"
        sql.append(
            f""",
        g{k} AS (
            SELECT avg({err} * x1) AS g1,
                   avg({err} * x2) AS g2,
                   avg({err} * x3) AS g3,
                   avg({err}) AS gb
            FROM {src}
        ),
        w{k} AS (
            SELECT {'0.0' if prev is None else f'{prev}.c1'} - {lr} * g1 AS c1,
                   {'0.0' if prev is None else f'{prev}.c2'} - {lr} * g2 AS c2,
                   {'0.0' if prev is None else f'{prev}.c3'} - {lr} * g3 AS c3,
                   {'0.0' if prev is None else f'{prev}.cb'} - {lr} * gb AS cb
            FROM g{k}{'' if prev is None else f', {prev}'}
        )"""
        )
        prev = f"w{k}"
        margin = f"{prev}.c1 * x1 + {prev}.c2 * x2 + {prev}.c3 * x3 + {prev}.cb"
    sql.append(
        f"""
        SELECT f.doc_id,
               round(1.0 / (1.0 + exp(-({margin}))), {dp}) AS quality_prob
        FROM f, {prev}
        ORDER BY f.doc_id"""
    )
    return "".join(sql)


def numpy_logreg_reference(
    X, y, *, iters: int = 3, lr: float = 1.0
):  # pragma: no cover - exercised from tests
    """Tiny in-memory reference implementation (numpy) for parity tests:
    identical zero init, full-batch averaged gradient, same update."""
    import numpy as np

    X = np.asarray(X, dtype=float)
    y = np.asarray(y, dtype=float)
    Xb = np.hstack([X, np.ones((X.shape[0], 1))])
    w = np.zeros(Xb.shape[1])
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(Xb @ w)))
        w = w - lr * (Xb.T @ (p - y)) / len(y)
    return w


def quality_eval_leakage_free(
    docs: DataFrame,
    *,
    iters: int = 3,
    lr: float = 1.0,
    holdout_pct: int = 30,
    threshold: float = 0.1,
    label_lang: str = "en",
) -> DataFrame:
    """Leakage-free offline evaluation of the learned quality filter —
    the full composition a production pipeline runs before trusting a
    classifier trained on its own corpus:

      near-dup cluster split (near-copies co-assign, so the holdout is
      never contaminated by a training near-duplicate) -> fit logreg on
      the train side only -> score the holdout map-only -> exact
      Mann-Whitney AUC on the holdout scores.

    One row: (auc, n_train, n_holdout). Every stage is the bounded-
    driver-state shape of its standalone operator; nothing new shuffles.
    """
    from streaming_demos_spark.catalog import bounded_persist
    from streaming_demos_spark.operators.dedup import cluster_split
    from streaming_demos_spark.operators.linucb import auc as auc_fn

    split = cluster_split(
        docs, threshold=threshold, holdout_pct=holdout_pct
    ).select("doc_id", "split")
    # persisted ONCE: three subtrees (the fit's train side, the holdout
    # scoring, the split counts) consume feats, and its upstream is the
    # whole near-dup cluster-split pipeline — without the cache that
    # pipeline recomputes per subtree (the dominant cost of this query)
    feats = bounded_persist(
        quality_features(docs, label_lang=label_lang).join(split, "doc_id")
    )
    # fused GD (logreg_fit_frame): the whole weight trajectory rides
    # inside the final action's plan as chained 1-row broadcast
    # aggregates instead of paying one driver action per iteration
    train = feats.filter(F.col("split") == "train")
    w = logreg_fit_frame(train, ["x1", "x2", "x3"], "y", iters=iters, lr=lr)
    holdout = logreg_score_frame(
        feats.filter(F.col("split") == "holdout"),
        ["x1", "x2", "x3"],
        w,
        out_col="score",
        dp=6,
    )
    counts = feats.groupBy().agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
        F.sum((F.col("split") == "holdout").cast("long")).alias("n_holdout"),
    )
    return auc_fn(holdout, "score", "y").crossJoin(F.broadcast(counts))


def sql_logreg_quality_eval(
    clusters_sql: str,
    iters: int = 3,
    lr: float = 1.0,
    holdout_pct: int = 30,
    dp: int = 6,
) -> str:
    """DuckDB replay of ``quality_eval_leakage_free``: the cluster-split
    SQL (passed in, so the near-dup parameters stay in one place at the
    call site) + the same GD trajectory fit on the train side + the
    Mann-Whitney AUC over the holdout scores."""
    sql = [
        f"""
        WITH sb AS (
            SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5(component::VARCHAR), 1, 6))::BIGINT % 100 < {holdout_pct}
                        THEN 'holdout' ELSE 'train' END AS split
            FROM ({clusters_sql}) base
        ),
        w0 AS (
            SELECT doc_id, n_chars, text, lang,
                   string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents
        ),
        f AS (
            SELECT w0.doc_id,
                   n_chars / 1000.0 AS x1,
                   len(words) / 100.0 AS x2,
                   CASE WHEN len(words) = 0 THEN 0.0
                        ELSE (length(text) - (len(words) - 1)) / (10.0 * len(words))
                   END AS x3,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                   sb.split
            FROM w0 JOIN sb USING (doc_id)
        ),
        train AS (SELECT * FROM f WHERE split = 'train')"""
    ]
    margin = "0.0"
    prev = None
    for k in range(1, iters + 1):
        src = "train" if prev is None else f"train, {prev}"
        err = f"(1.0 / (1.0 + exp(-({margin}))) - y)"
        sql.append(
            f""",
        g{k} AS (
            SELECT avg({err} * x1) AS g1,
                   avg({err} * x2) AS g2,
                   avg({err} * x3) AS g3,
                   avg({err}) AS gb
            FROM {src}
        ),
        w{k} AS (
            SELECT {'0.0' if prev is None else f'{prev}.c1'} - {lr} * g1 AS c1,
                   {'0.0' if prev is None else f'{prev}.c2'} - {lr} * g2 AS c2,
                   {'0.0' if prev is None else f'{prev}.c3'} - {lr} * g3 AS c3,
                   {'0.0' if prev is None else f'{prev}.cb'} - {lr} * gb AS cb
            FROM g{k}{'' if prev is None else f', {prev}'}
        )"""
        )
        prev = f"w{k}"
        margin = f"{prev}.c1 * x1 + {prev}.c2 * x2 + {prev}.c3 * x3 + {prev}.cb"
    sql.append(
        f""",
        scored AS (
            SELECT round(1.0 / (1.0 + exp(-({margin}))), {dp}) AS score, y
            FROM f, {prev} WHERE split = 'holdout'
        ),
        per_score AS (
            SELECT score, count(*) AS cnt, sum(y)::DOUBLE AS pos
            FROM scored GROUP BY score
        ),
        ranked AS (
            SELECT *,
                   coalesce(sum(cnt) OVER (
                       ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) + (cnt + 1.0) / 2.0 AS avg_rank
            FROM per_score
        )
        SELECT round(
                   (sum(pos * avg_rank) - sum(pos) * (sum(pos) + 1.0) / 2.0)
                   / (sum(pos) * (sum(cnt) - sum(pos))), 6) AS auc,
               (SELECT count(*) FROM train) AS n_train,
               (SELECT count(*) FROM scored) AS n_holdout
        FROM ranked"""
    )
    return "".join(sql)


def logreg_lr_sweep(
    docs: DataFrame,
    lrs: list[float],
    *,
    iters: int = 3,
    label_lang: str = "en",
    dp: int = 6,
) -> DataFrame:
    """Distributed hyperparameter sweep with SHARED scans: fit one
    logreg per learning rate, but compute every candidate's gradient in
    the SAME aggregation pass — iteration cost is one corpus scan
    regardless of grid size (|grid| * (d+1) agg columns), instead of
    |grid| separate training runs each scanning the corpus.

    This is the model-selection shape that matters at 100 TB: the scan
    is the cost, the per-candidate arithmetic is free — so sweep wider,
    not longer. Returns one row per lr: ``(lr, logloss, w1, w2, w3,
    bias)``, losses from one final shared pass, everything rounded for
    cross-engine determinism.
    """
    from streaming_demos_spark.catalog import bounded_persist

    feature_cols = ["x1", "x2", "x3"]
    d = len(feature_cols)
    feats = bounded_persist(quality_features(docs, label_lang=label_lang))

    # FUSED single-plan sweep (guide §1.2 driver-action floor): the
    # eager loop paid iters+1 driver actions (each a full analysis +
    # AQE cycle plus a py4j row fetch); here every iteration's shared
    # gradient aggregate crossJoins the previous 1-row weight frame
    # (broadcast) and the whole trajectory + final losses materialize
    # in ONE action. Same IEEE-754 trajectory: identical aggregates,
    # identical ``w - lr*g`` update, identical margin accumulation
    # order — verified value-identical to the eager form and the
    # DuckDB oracle. Two behavioral notes: an empty corpus yields NULL
    # losses/weights instead of the eager form's ValueError, and the
    # final rounding is F.round (HALF_UP) where the eager form used
    # Python round (half-even) on the SAME doubles — proved equal on
    # the real inputs at every SF (GD weights never land on exact
    # decimal midpoints; any future disagreement hash-fails loudly).
    def wcol(i: int, j) -> str:
        return f"_w{i}_{j}"

    jays = [*range(d), "b"]
    cur = None  # 1-row frame: fitted-so-far weights per learning rate
    for _ in range(iters):
        aggs = []
        for i, lr in enumerate(lrs):
            margin = (
                _margin_sql(feature_cols, [0.0] * (d + 1))
                if cur is None
                else _margin_sql(feature_cols, prefix=f"_w{i}_")
            )
            err = f"({_sigmoid_sql(margin)} - `y`)"
            aggs.extend(
                f"avg({err} * `{c}`) AS `_g{i}_{j}`"
                for j, c in enumerate(feature_cols)
            )
            aggs.append(f"avg({err}) AS `_g{i}_b`")
        if cur is None:
            cur = feats.selectExpr(*aggs).selectExpr(
                *[
                    f"(0.0D - ({float(lr)!r}D * `_g{i}_{j}`)) AS `{wcol(i, j)}`"
                    for i, lr in enumerate(lrs)
                    for j in jays
                ]
            )
            continue
        aggs.extend(
            f"max(`{wcol(i, j)}`) AS `_ow{i}_{j}`"
            for i in range(len(lrs))
            for j in jays
        )
        cur = feats.crossJoin(F.broadcast(cur)).selectExpr(*aggs).selectExpr(
            *[
                f"(`_ow{i}_{j}` - ({float(lr)!r}D * `_g{i}_{j}`)) AS `{wcol(i, j)}`"
                for i, lr in enumerate(lrs)
                for j in jays
            ]
        )
    loss_aggs = []
    for i, lr in enumerate(lrs):
        p = _sigmoid_sql(_margin_sql(feature_cols, prefix=f"_w{i}_"))
        ll = (
            f"(CASE WHEN (`y` = 1.0D) THEN ln({p})"
            f" ELSE ln((1.0D - {p})) END)"
        )
        loss_aggs.append(f"avg(-{ll}) AS `_loss{i}`")
    loss_aggs.extend(
        f"max(`{wcol(i, j)}`) AS `_ow{i}_{j}`"
        for i in range(len(lrs))
        for j in jays
    )
    fin = feats.crossJoin(F.broadcast(cur)).selectExpr(*loss_aggs)
    # one generator pass over the 1-row loss+weight frame -> |lrs| rows
    # (a per-lr union would re-evaluate the final aggregate per branch)
    rows = ", ".join(
        f"named_struct('lr', {float(lr)!r}D,"
        f" 'logloss', round(`_loss{i}`, {dp}),"
        f" 'w1', round(`_ow{i}_0`, {dp}),"
        f" 'w2', round(`_ow{i}_1`, {dp}),"
        f" 'w3', round(`_ow{i}_2`, {dp}),"
        f" 'bias', round(`_ow{i}_b`, {dp}))"
        for i, lr in enumerate(lrs)
    )
    return (
        fin.selectExpr(f"explode(array({rows})) AS `_r`")
        .select("_r.*")
        .orderBy("lr")
    )


def sql_logreg_lr_sweep(
    lrs: list[float], iters: int = 3, dp: int = 6
) -> str:
    """DuckDB replay of ``logreg_lr_sweep``: one unrolled GD chain per
    learning rate over the shared feature CTE, losses at the final
    weights, one output row per lr."""
    sql = [
        """
        WITH w0 AS (
            SELECT doc_id, n_chars, text, lang,
                   string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents
        ),
        f AS (
            SELECT doc_id,
                   n_chars / 1000.0 AS x1,
                   len(words) / 100.0 AS x2,
                   CASE WHEN len(words) = 0 THEN 0.0
                        ELSE (length(text) - (len(words) - 1)) / (10.0 * len(words))
                   END AS x3,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
            FROM w0
        )"""
    ]
    finals = []
    for i, lr in enumerate(lrs):
        margin = "0.0"
        prev = None
        for k in range(1, iters + 1):
            src = "f" if prev is None else f"f, {prev}"
            err = f"(1.0 / (1.0 + exp(-({margin}))) - y)"
            sql.append(
                f""",
        g{i}_{k} AS (
            SELECT avg({err} * x1) AS g1, avg({err} * x2) AS g2,
                   avg({err} * x3) AS g3, avg({err}) AS gb
            FROM {src}
        ),
        w{i}_{k} AS (
            SELECT {'0.0' if prev is None else f'{prev}.c1'} - {lr} * g1 AS c1,
                   {'0.0' if prev is None else f'{prev}.c2'} - {lr} * g2 AS c2,
                   {'0.0' if prev is None else f'{prev}.c3'} - {lr} * g3 AS c3,
                   {'0.0' if prev is None else f'{prev}.cb'} - {lr} * gb AS cb
            FROM g{i}_{k}{'' if prev is None else f', {prev}'}
        )"""
            )
            prev = f"w{i}_{k}"
            margin = (
                f"{prev}.c1 * x1 + {prev}.c2 * x2 + {prev}.c3 * x3 + {prev}.cb"
            )
        p = f"(1.0 / (1.0 + exp(-({margin}))))"
        finals.append(
            f"""
        SELECT {lr}::DOUBLE AS lr,
               round((SELECT avg(-(CASE WHEN y = 1.0 THEN ln({p})
                                        ELSE ln(1.0 - {p}) END))
                      FROM f, {prev}), {dp}) AS logloss,
               round({prev}.c1, {dp}) AS w1, round({prev}.c2, {dp}) AS w2,
               round({prev}.c3, {dp}) AS w3, round({prev}.cb, {dp}) AS bias
        FROM {prev}"""
        )
    sql.append("\n        UNION ALL".join(finals))
    sql.append("\n        ORDER BY lr")
    return "".join(sql)


def uncertainty_sample(
    docs: DataFrame,
    k: int = 50,
    *,
    iters: int = 3,
    lr: float = 1.0,
    label_lang: str = "en",
    dp: int = 6,
) -> DataFrame:
    """Active-learning batch selection: the ``k`` documents the learned
    quality classifier is LEAST sure about (``|p - 0.5|`` smallest) —
    the examples whose labels buy the most model improvement in the
    annotate → refit loop.

    Composes the existing distributed-GD fit + map-only scoring; the
    selection itself is TakeOrderedAndProject on (rounded margin asc,
    doc_id) — no global sort. Ties on the rounded margin resolve by id
    so the batch is engine-replayable.
    """
    scored = quality_classifier_scores(
        docs, iters=iters, lr=lr, label_lang=label_lang, dp=dp
    )
    margin = F.round(F.abs(F.col("quality_prob") - 0.5), dp)
    return (
        scored.select(
            "doc_id", "quality_prob", margin.alias("margin")
        )
        .orderBy(F.asc("margin"), F.asc("doc_id"))
        .limit(k)
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 20.0,
    round_dp: int = 6,
) -> DataFrame:
    """Leakage-safe leave-one-out target encoding with additive
    smoothing — the standard high-cardinality categorical feature for
    tabular model training.

    Each row's encoding excludes its OWN target (so the feature never
    memorizes the label) and shrinks toward the global prior:

        enc_i = (sum_g - y_i + m * prior) / (n_g - 1 + m)

    Plan: one per-category aggregation (n, sum) joined back to the rows
    by the category key (AQE broadcasts the category-cardinality
    frame), the global prior cross-joined as a 1-row broadcast, and the
    encoding is pure map-side arithmetic. Singleton categories
    (n_g = 1) fall back to the prior exactly. Appends ``loo_enc``.
    """
    y = F.col(target_col).cast("double")
    per = df.groupBy(cat_col).agg(
        F.count(y).alias("_n"), F.sum(y).alias("_s")
    )
    prior = df.agg(F.avg(y).alias("_prior"))
    enc = F.coalesce(
        F.try_divide(
            F.col("_s") - y + F.lit(smoothing) * F.col("_prior"),
            F.col("_n") - F.lit(1) + F.lit(smoothing),
        ),
        F.col("_prior"),
    )
    return (
        df.join(per, cat_col)
        .crossJoin(F.broadcast(prior))
        .withColumn("loo_enc", F.round(enc, round_dp))
        .drop("_n", "_s", "_prior")
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration curve via
    pool-adjacent-violators — the non-parametric answer to "what
    probability does score s actually mean?", fit per group.

    Stage 1 is a distributed (group, score) grid aggregation (count,
    positives) — the sufficient statistic, bounded by distinct-score
    cardinality. Stage 2 runs PAVA over each group's grid with
    Arrow-batched ``applyInPandas`` (the pool merge is sequential in
    score order, but the GRID per group is small by construction).
    Block means are ratios of exact integer sums, so the fit is
    bit-deterministic under any partitioning. Output: (group, score,
    n, n_pos, iso_prob).
    """
    g = F.lit("all").alias("_g") if group_col is None else F.col(
        group_col
    ).alias("_g")
    lab = F.col(label_col).cast("int")
    grid = df.groupBy(
        g, F.col(score_col).cast("double").alias("score")
    ).agg(
        F.count("*").alias("n"),
        F.sum(lab).alias("n_pos"),
    )

    def pava(pdf):
        pdf = pdf.sort_values("score").reset_index(drop=True)
        # stack of blocks: [sum_pos, weight, count_of_grid_rows]
        blocks: list[list[float]] = []
        for _, row in pdf.iterrows():
            blocks.append([float(row.n_pos), float(row.n), 1])
            while (
                len(blocks) >= 2
                and blocks[-2][0] * blocks[-1][1]
                >= blocks[-1][0] * blocks[-2][1]
            ):
                s2, w2, c2 = blocks.pop()
                blocks[-1][0] += s2
                blocks[-1][1] += w2
                blocks[-1][2] += c2
        probs = []
        for s, w, c in blocks:
            probs.extend([s / w] * int(c))
        pdf["iso_prob"] = [round(p, round_dp) for p in probs]
        return pdf

    out_schema = (
        "_g string, score double, n long, n_pos long, iso_prob double"
    )
    fitted = grid.groupBy("_g").applyInPandas(pava, schema=out_schema)
    name = group_col if group_col is not None else "group"
    return fitted.withColumnRenamed("_g", name)
