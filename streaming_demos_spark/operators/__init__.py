"""Operator library.

Modules map to SURVEY.md §2 inventory sections:

- relational   — scans/projections/filters/joins/aggregates/sorts (§2.1-2.6),
                 plus HLL sketch rollups, key-skew profiling, equi-width
                 histograms, set partitions, table profiling, per-key splits
- linucb       — LinUCB fit (batch and streaming)/score + ranking eval (CTR/P@k/R@k/NDCG)
                 and exact AUC (§2.10, A10-A12)
- dedup        — exact + MinHash-LSH + SimHash near-dup detection, connected
                 components, quality-aware representative selection
- similarity   — brute-force, sign-LSH (single + multi-table), and IVF
                 embedding similarity search with recall evaluation
- text         — language-ID, quality scoring, tokens, fingerprints, vocab/entropy
- curation     — decontamination (exact n-gram + fuzzy MinHash), quality gate,
                 sampling (stratified + weighted), mix weights + token-budget
                 planning, packing, chunking, repetition stats, PII redaction
- multimodal   — opaque binary columns + mapInPandas feature plumbing
                 (stubbed codecs) + perceptual-hash near-dup pairing
- clustering   — k-means fit/assign (packed centroids), SemDeDup semantic dedup
- selection    — DSIR importance weights/resampling (hashed-n-gram
                 domain scores, Gumbel top-k), temperature mixing
- sketches     — HLL distinct, Misra-Gries exact heavy hitters (batch +
                 streaming), count-min sketch
- training     — distributed-GD logistic quality classifier, shared-scan
                 learning-rate sweeps, leakage-free cluster splits
- graph        — weighted PageRank, degree profiles, degree-oriented
                 triangle census
"""
