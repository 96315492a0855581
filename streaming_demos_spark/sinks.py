"""Model sinks/sources closing the LinUCB loop (SURVEY.md S13/S14),
debug sinks (S11/S16), and the stateful metric-delta emitter (A4).
The S12 periodic push refresh lives in ``streaming.bootstrap``.

Reference parity:
- Redis sink:   recsys-trainer/.../infrastructure/redis/RedisSinkWriter.kt:50-69
                (SET linucb:{productId} -> JSON {"A_inv": [[..]], "b": [..]},
                 idempotent => at-least-once delivery is effectively-once,
                 RedisSink.kt:10-22)
- Redis source: recsys-engine/src/bandit_manager.py:109-132 (one MGET for
                all models; identity/zeros fallback for cold keys)
- Metric delta: product-demos/streamlit/utils.py:33-52 — current tick's
                scalar metrics minus the previous tick's.
- Console sink: DataStreamApp.kt:131-139 / ps_sub.py:36-43 ``.print()``.

The KV store is pluggable: any dict-like client with ``mset``/``mget``
works. ``redis.Redis`` satisfies it when the library is installed
(import-gated — not baked into this container); tests use InMemoryKV.
Publishing writes ONLY the model rows — P·(d²+d) doubles, never the
feedback log itself — and never collects them: ``publish_models``
streams them through the driver a partition at a time, or msets them
from the executors.
"""

from __future__ import annotations

import json
from itertools import islice

from pyspark.sql import DataFrame


class InMemoryKV:
    """Dict-backed stand-in for a Redis client (tests/local runs)."""

    def __init__(self):
        self.data: dict[str, str] = {}

    def mset(self, mapping: dict[str, str]) -> None:
        self.data.update(mapping)

    def mget(self, keys: list[str]) -> list[str | None]:
        return [self.data.get(k) for k in keys]


def redis_client(url: str = "redis://localhost:6379"):
    """Real Redis client, import-gated (library not in this container)."""
    try:
        import redis  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "the redis library is not installed in this container; pass an "
            "InMemoryKV or any client with mset/mget instead"
        ) from exc
    return redis.Redis.from_url(url, decode_responses=True)


def _model_entry(row, key_prefix: str, key_col: str) -> tuple[str, str]:
    return (
        f"{key_prefix}{row[key_col]}",
        json.dumps({"A_inv": row["a_inv"], "b": row["b"]}, separators=(",", ":")),
    )


def _mset_chunked(client, rows, key_prefix: str, key_col: str, batch_size: int) -> int:
    """mset model rows into ``client`` ``batch_size`` at a time; returns
    the number of entries written."""
    rows, n = iter(rows), 0
    while chunk := dict(
        _model_entry(r, key_prefix, key_col) for r in islice(rows, batch_size)
    ):
        client.mset(chunk)
        n += len(chunk)
    return n


def publish_models(
    models: DataFrame,
    kv=None,
    key_prefix: str = "linucb:",
    key_col: str = "product_id",
    kv_factory=None,
    batch_size: int = 1000,
) -> int:
    """Publish linucb:{pid} -> JSON(A_inv, b) for every model row
    (RedisSinkWriter.kt:55-61 wire format). Idempotent by construction —
    safe to replay a micro-batch.

    Two paths, neither of which materializes the full model table on the
    driver (P models × (d²+d) doubles is ~80 GB at d=100, P=1e6 — NOT a
    driver-side object):

    - ``kv_factory`` given (a zero-arg callable returning an mset-capable
      client, e.g. ``lambda: redis_client(url)``): each partition opens
      its own connection and msets its rows in ``batch_size`` chunks —
      the sharded executor-side path for large P. Only per-partition
      counts return to the driver.
    - ``kv`` given (an in-process client/InMemoryKV — tests, notebooks,
      single-box serving): partitions stream through the driver ONE at a
      time via ``toLocalIterator``, mset-ing in chunks; peak driver
      memory is one partition, not the table.
    """
    sel = models.select(key_col, "a_inv", "b")
    if kv_factory is not None:
        return sel.rdd.mapPartitions(
            lambda rows: [_mset_chunked(kv_factory(), rows, key_prefix, key_col, batch_size)]
        ).sum()
    if kv is None:
        raise ValueError("publish_models needs either kv or kv_factory")
    return _mset_chunked(kv, sel.toLocalIterator(), key_prefix, key_col, batch_size)


def model_sink(kv, key_prefix: str = "linucb:", key_col: str = "product_id"):
    """foreachBatch writer for the streaming trainer: latest model per
    key in the batch (highest n_obs) is published."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        cols = batch_df.columns
        latest = batch_df
        if "n_obs" in cols:
            w = Window.partitionBy(key_col).orderBy(F.desc("n_obs"))
            latest = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        publish_models(latest, kv, key_prefix, key_col)

    return write


# --- S11/S16: console / debug sinks -----------------------------------------


def console_sink(stream_df: DataFrame, trigger: dict | None = None, truncate: bool = True):
    """S16: streaming console sink (the reference's ``.print()`` debug
    path, DataStreamApp.kt:131-139). Returns the started query."""
    w = stream_df.writeStream.format("console").option("truncate", str(truncate).lower())
    if trigger:
        w = w.trigger(**trigger)
    return w.start()


def memory_sink(stream_df: DataFrame, name: str, output_mode: str = "append",
                trigger: dict | None = None):
    """S11 analog: in-process inspectable sink (Pub/Sub console
    subscriber, ps_sub.py:36-43). Query results land in the temp view
    ``name``."""
    w = stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if trigger:
        w = w.trigger(**trigger)
    return w.start()


# --- A4: stateful metric-delta emitter ---------------------------------------
# (S12's periodic push refresh lives in streaming.bootstrap.periodic_refresh.)


class MetricDeltaWriter:
    """foreachBatch writer computing per-tick metric deltas — the
    dashboard's ``curr - prev`` per scalar metric across refreshes
    (streamlit/utils.py:33-52, processing.tsx:48-72), held as driver
    state across micro-batches (the streaming form of the batch ``lag``
    analog in operators.relational.metric_deltas).

    ``metrics_fn(batch_df) -> DataFrame`` must return ONE row of numeric
    metrics. Each batch emits ``{metric: (value, delta)}`` to
    ``push(payload, batch_id)``; the first tick's deltas are 0.0 (the
    reference renders first deltas as zero)."""

    def __init__(self, metrics_fn, push):
        self.metrics_fn = metrics_fn
        self.push = push
        self.prev: dict[str, float] | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        rows = self.metrics_fn(batch_df).collect()
        if not rows:
            return
        curr = {k: float(v) for k, v in rows[0].asDict().items() if v is not None}
        prev = self.prev if self.prev is not None else curr
        payload = {
            k: {"value": v, "delta": round(v - prev.get(k, v), 9)}
            for k, v in curr.items()
        }
        self.prev = curr
        self.push(payload, batch_id)


def fetch_models(
    spark,
    kv,
    product_ids: list,
    d: int,
    key_prefix: str = "linucb:",
    lam: float = 1.0,
) -> DataFrame:
    """One MGET for all requested models (bandit_manager.py:109-132);
    cold keys fall back to the λI⁻¹ / zeros prior (:119-121). Returns a
    model DataFrame scoreable by operators.linucb.score_models."""
    keys = [f"{key_prefix}{pid}" for pid in product_ids]
    raw = kv.mget(keys)
    cold_a_inv = [
        [(1.0 / lam if i == j else 0.0) for j in range(d)] for i in range(d)
    ]
    rows = []
    for pid, payload in zip(product_ids, raw):
        if payload is None:
            rows.append((str(pid), cold_a_inv, [0.0] * d))
        else:
            m = json.loads(payload)
            rows.append((str(pid), m["A_inv"], m["b"]))
    return spark.createDataFrame(
        rows,
        "product_id string, a_inv array<array<double>>, b array<double>",
    )


def agg_refresh_sink(
    state: dict,
    key_cols: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
    op_col: str = "op",
):
    """``foreachBatch`` writer maintaining a grouped sum/count aggregate
    from a retraction stream (the streaming face of
    ``operators.relational.incremental_agg_refresh``): each micro-batch
    of 'i'/'d' rows is reduced to ONE small per-key delta frame
    executor-side, and only that |keys|-bounded frame reaches the
    driver to merge into ``state`` — batch row volume never does.

    The combination with Structured Streaming's checkpointing matches
    the reference's Flink Table-API aggregations: at-least-once batch
    replays are NOT idempotent for pure increments, so production runs
    pair this with the last-committed ``batch_id`` guard recorded in
    ``state['_batch']`` (replayed batches are skipped, making the sink
    effectively exactly-once — same contract as ``upsert_foreach_batch``).
    """
    from pyspark.sql import functions as F

    def write(batch_df: DataFrame, batch_id: int) -> None:
        last = state.get("_batch")
        if last is not None and batch_id <= last:
            return  # checkpoint replay: already merged
        sign = F.when(F.col(op_col) == "d", F.lit(-1)).otherwise(F.lit(1))
        delta = (
            batch_df.groupBy(*key_cols)
            .agg(
                *[F.sum(sign * F.col(c)).alias(c) for c in sum_cols],
                F.sum(sign).alias(count_col),
            )
            .collect()
        )
        groups = state.setdefault("groups", {})
        for r in delta:
            k = tuple(r[c] for c in key_cols)
            cur = groups.get(k, {c: 0.0 for c in sum_cols} | {count_col: 0})
            for c in sum_cols:
                cur[c] = cur[c] + (r[c] or 0.0)
            cur[count_col] = cur[count_col] + (r[count_col] or 0)
            if cur[count_col] <= 0:
                groups.pop(k, None)
            else:
                groups[k] = cur
        state["_batch"] = batch_id

    return write
