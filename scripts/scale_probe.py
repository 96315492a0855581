"""Scale probe: materialize an N-times copy of the sf0.1 tables
(key-shifted unions, FK-consistent) under .scratch and compare
per-query runtimes at 1x vs Nx.

The point is evidence for the 100 TB design question: a healthy plan
scales at <= Nx runtime on Nx data on the same hardware (fixed
overheads amortize, parallelism fills); super-linear growth exposes a
plan that will not survive a real scale-up (pair blow-ups, global
sorts, driver materialization).

Documents get per-copy word prefixes (every shingle differs across
copies) so dedup probes measure map+bucket throughput, not an
artificial 10-way duplicate explosion; embeddings are left out of the
probe for the same reason.

Usage:  python scripts/scale_probe.py [N]     (default N=10)
Prints one JSON line: {"n": N, "queries": {key: {"t1": s, "tn": s,
"ratio": r}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table
from streaming_demos_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
PROBE_KEYS = [
    "q1_pricing_summary",
    "p1_p2_j1_j2_dashboard_feed",
    "a3_o1_grouped_revenue_nation",
    "o2_top3_parts_per_brand",
    "a5_a8_tumbling_stats",
    "ext_session_window",
    "o4_time_split",
    "llm_dedup_minhash_pairs",
    "llm_dedup_clusters",
    "llm_dedup_jaccard",
    "llm_ngram_entropy",
    "llm_decontaminate",
    "llm_pack_sequences",
    "llm_repetition_stats",
    "llm_text_stats",
    "f_tfidf_top_terms",
    "eval_auc",
    "ext_user_journeys",
    "ext_funnel",
    "ext_retention",
    "ext_zscore_anomalies",
    "ext_moving_average",
    "llm_weighted_sample",
    # round-3 additions: the remaining >2s-at-sf0.1 queries + the
    # approx-quantile fix + the multi-table ANN path
    "f_svd_embed",
    "llm_ann_lsh_topk",
    "llm_ann_lsh_multi_topk",
    "ext_quantile_summary",
    "ext_quantile_approx",
    "s1_s8_csv_declared_schema",
    # round-3 batch 2: CDC history, quality gate, sketch rollup,
    # skew profiler, NDCG
    "s10_cdc_scd2_history",
    "llm_quality_filter",
    "ext_hll_distinct",
    "ext_key_skew_profile",
    "eval_ndcg",
    "llm_decontaminate_fuzzy",
    "llm_tfidf_cosine_topk",
    "ext_value_histogram",
    "ext_set_partition",
    "ext_table_profile",
    "o4_per_key_time_split",
    "llm_dedup_keep_best",
    "llm_mix_token_plan",
    "llm_unigram_surprisal",
    "llm_dedup_simhash_pairs",
    "llm_winnow_overlap",
    "llm_ann_recall_ivf",
    # round-3 batch 3: clustering family + window/set suites
    # (llm_semantic_dedup is probed manually with k scaled ~ N — fixed
    # k on Nx data is a deliberate cell-quadratic; see SCALE.md)
    "llm_kmeans_assign",
    "llm_kmeans_centroids",
    "llm_kmeans_round",
    "llm_ann_filtered_topk",
    "llm_dedup_incremental",
    "ext_window_suite",
    "ext_set_compare",
    # round-3 batch 4: retrieval + compressed ANN + layout profiling
    "llm_bm25_topk",
    "llm_ann_pq_topk",
    "ext_zorder_profile",
    # round-3 batch 5: sub-doc dedup, CDC-out, sequence/tokenizer/eval
    "llm_block_dedup",
    "llm_shard_profile",
    "llm_ann_recall_pq",
    "ext_event_transitions",
    "s10_snapshot_diff",
    "llm_bpe_pair_stats",
    "eval_calibration",
    "ext_entity_blocking",
    # round-3 batch 6: data selection + sketches
    "llm_dsir_weights",
    "llm_dsir_resample",
    "llm_temperature_mix",
    "ext_heavy_hitters",
    "llm_per_group_sample",
    "llm_contrastive_triplets",
    "llm_cross_source_overlap",
    # round-3 batch 8: learned quality filter, JL projection, cluster split
    "llm_quality_classifier",
    "llm_random_projection",
    "llm_cluster_split",
    # round 4: the TPC-H suite (audited + probed this round)
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q10",
    "tpch_q14",
    "tpch_q15",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q22",
    "tpch_q2",
    "tpch_q8",
    "tpch_q9",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q16",
    "tpch_q20",
    "tpch_q21",
    "llm_interleave_shards",
    "llm_normalize_text",
    "llm_contamination_matrix",
    "ext_gapfill",
    "llm_textrank_keywords",
    "ext_pivot_revenue",
    "ext_unpivot_profile",
    "ext_correlation_matrix",
    "llm_preference_pairs",
    "ext_bootstrap_ci",
    "ext_grouped_ols",
    "ext_histogram_2d",
    "ext_nelson_aalen",
    # round 5: capped FS pair generation (was the 10.4x outlier)
    "ext_fs_linkage",
    "ext_fs_em",
]

DIMS = ["region", "nation", "supplier", "part"]
SHIFTS = {
    # table -> {column: shift_unit_key}; each copy i adds i * max(unit)+1
    "customer": {"c_custkey": "c_custkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {"l_orderkey": "o_orderkey"},
    "events": {"event_id": "event_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}


def build(spark, dst: str, n: int) -> None:
    os.makedirs(dst, exist_ok=True)
    units: dict[str, int] = {}
    for t in ["customer", "orders", "events", "documents", "embeddings"]:
        key = next(iter(SHIFTS[t]))
        units[key] = load_table(spark, SRC, t).agg(F.max(key)).collect()[0][0] + 1

    for t in DIMS:
        load_table(spark, SRC, t).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")

    for t, shifts in SHIFTS.items():
        base = load_table(spark, SRC, t)
        copies = []
        for i in range(n):
            c = base
            for col, unit_key in shifts.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * units[unit_key]))
            if t == "customer":
                # keep TPC-H's name<-custkey invariant: without this,
                # every copy reuses the SAME names and any name-keyed
                # blocking (fs linkage bands) collides 10-way — an
                # artifact real corpora don't have
                c = c.withColumn(
                    "c_name", F.format_string("Customer#%09d", "c_custkey")
                )
            if t == "documents":
                # per-copy word prefix: every shingle differs across
                # copies -> no artificial 10-way near-dup explosion
                c = c.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split("text", " "), lambda w: F.concat(F.lit(f"c{i}"), w)
                        ),
                        " ",
                    ),
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    dst = os.path.join(REPO, ".scratch", f"scale{n}x")
    spark = get_spark(app_name="scale_probe")
    import __spark_entry__ as E

    if not os.path.isdir(f"{dst}/lineitem.parquet"):
        t0 = time.perf_counter()
        build(spark, dst, n)
        print(f"[probe] built {n}x copy in {time.perf_counter() - t0:.0f}s",
              file=sys.stderr)

    Q = E.queries()
    out = {}
    # Optional second arg: probe only these comma-separated keys.
    keys = sys.argv[2].split(",") if len(sys.argv) > 2 else PROBE_KEYS
    for key in keys:
        Q[key](spark, SRC).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        Q[key](spark, SRC).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        Q[key](spark, dst).write.format("noop").mode("overwrite").save()
        tn = time.perf_counter() - t0
        out[key] = {"t1": round(t1, 2), "tn": round(tn, 2),
                    "ratio": round(tn / t1, 1)}
        print(f"[probe] {key}: 1x {t1:.2f}s  {n}x {tn:.2f}s  "
              f"ratio {tn / t1:.1f}", file=sys.stderr)
    print(json.dumps({"n": n, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
