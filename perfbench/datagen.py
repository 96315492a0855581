"""Seeded generators for the benchmark's inputs.

``write_tables`` writes the ten parquet tables the query builders read
(``streaming_demos_spark.schemas.TESTDATA_TABLES``) with the same
schemas, key ranges and value distributions as the project's sf-scaled
test data, so every registered key and its DuckDB oracle run on them.

``order_events`` draws the supplier-stats order stream: an arrival clock
at a fixed rate, and a bid time that lags arrival by 0..15 s, as the
reference producer does; the lag is what makes rows out of order and
late.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from streaming_demos_spark.streaming.generator import ITEMS, SUPPLIERS

SF = 0.01  # scale of the batch workloads' tables
DATA_SEED = 42  # fixed: the batch seed orders keys, the data stays put
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n, p=None):
    return np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)]


def _ts(base, offsets_us):
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2405, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_EPOCH_1995 + np.timedelta64(1, "D"),
                              rng.integers(0, 2499, n_line) * _DAY_US),
        }),
    }

    # events: a 30-day arrival log, strictly increasing timestamps
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype("int64") + 1
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts(_EPOCH_2024, np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })

    # documents: bag-of-vocab texts; one in twenty repeats an earlier
    # document with a " dup" suffix (the near-duplicate signal)
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    # embeddings: unit vectors around ten weak label centroids
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(n_emb, 64)) + 0.1 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def order_events(seed: int, first: int, n: int, events_per_sec: int, max_delay_sec: int = 15):
    """Orders ``first .. first+n-1`` of the stream, in arrival order.
    ``seq`` is the arrival offset; the arrival clock advances
    ``events_per_sec`` rows per second from 2024-01-01, and ``bid_time``
    lags arrival by 0..max_delay_sec. Any chunk can be drawn on its own:
    its random stream is keyed by (seed, first)."""
    rng = np.random.default_rng([seed, first])
    seq = np.arange(first, first + n)
    arrival = _EPOCH_2024.astype("datetime64[s]") + (seq // events_per_sec).astype("timedelta64[s]")
    bid = arrival - rng.integers(0, max_delay_sec + 1, n).astype("timedelta64[s]")
    return pa.table({
        "seq": pa.array(seq, pa.int64()),
        "order_id": [f"{seed:x}-{i:08x}" for i in seq],
        "bid_time": [t.replace("T", " ") for t in np.datetime_as_string(bid, unit="s")],
        "price": np.round(rng.uniform(1.0, 150.0, n), 2),
        "item": _pick(rng, ITEMS, n),
        "supplier": _pick(rng, SUPPLIERS, n),
    })
