"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE compact JSON line (the LAST line of stdout, < 2 KB — the driver
captures only a 2000-byte stdout tail, which truncated and unparsed the
round-5 per-query summary):
  {"metric": "total_query_sec", "value": N, "min_total": N, "spread": S,
   "unit": "sec", "queries": {family: sec, ...},
   "queries_n": {family: count, ...}, "uploads_per_sec": R,
   "n_queries": K, "cpus": C, "sf": ..., "detail": "BENCH_LOCAL.json"}
`queries_n` + `cpus` (round 14): per-family query counts so unequal-set
round-over-round comparisons are detectable from the artifact (the r13
family table was composition-poisoned by 44 new queries), and the actual
scheduler width so the local[$SPARK_GRAFT_CPUS] contract is auditable.
`min_total`/`spread` are the artifact's built-in error bar (sum of
per-query min-of-reps vs median-of-reps): read round-over-round ratios
against this spread AND the ~1.35x same-code machine envelope
(SCALING.md) before calling anything a regression.
Per-query timings go to BENCH_LOCAL.json at the repo root (committed per
round as BENCH_LOCAL_r{N}.json) — round-over-round per-query comparison
reads that file, not the stdout line.

Each query is forced end-to-end with a noop sink (full compute, no driver
collect overhead). A tiny warmup query absorbs JVM/codegen startup so the
numbers measure the plans, not the JVM. Reps are scheduled ROUND-ROBIN
across the whole suite (rep-1 of every query, then rep-2, ...) so slow
machine-state drift lands in every query's median instead of
concentrating in whichever queries ran during a bad window — the source
of the false per-query "regressions" hand-adjudicated in rounds 7 and 8
(round-9 change; per-rep durations + start timestamps in the detail
file).

The upload pipeline is measured FIRST (before the headline queries pin any
shared persisted bases) and as a median of `reps` full runs, the same
discipline as every query — round 5 recorded a single-sample 3.78 s /
529 uploads/s that an identical-code re-measure showed to be machine-state
noise (1.74-1.82 s, ~1100 uploads/s, warm OR isolated; see SCALING.md
"Round-5 bench regression: root cause").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from swiftbulkuploader_spark.session import get_spark  # noqa: E402
from swiftbulkuploader_spark import registry  # noqa: E402
from swiftbulkuploader_spark.operators.profiling import approx_quantiles_sketch  # noqa: E402
from swiftbulkuploader_spark.operators.training_prep import dataset_card_sketch  # noqa: E402

# The registered x6_quantiles_approx became a tolerance-check that computes
# exact AND sketch percentiles (round 4); timing it would fake a regression
# in the r1->rN bench timeline. Keep timing the pure GK sketch under the
# same headline key so exact-vs-sketch cost stays an apples comparison.
# Same for x6_dataset_card: the scale default is the GK-sketch card (round
# 5), so that's the form the bench times.
BENCH_OVERRIDES = {
    "x6_quantiles_approx": approx_quantiles_sketch,
    "x6_dataset_card": dataset_card_sketch,
}

# Headline set: one per operator family (SURVEY.md §2 + §2.9 extensions).
HEADLINE = [
    "q1_scan_pending_sorted",   # scan+filter+sort
    "q7_resume_anti_join",      # anti-join (resume)
    "a7_progress_pct",          # conditional aggregate
    "a8_rate_window",           # time-window aggregation
    "w1_latest_attempt",        # ranking window
    "s11_segment_plan",         # explode/sequence UDTF-shape
    "x5_pricing_summary",       # wide aggregate
    "x5_top_revenue_orders",    # 3-way join + top-k
    "x5_nation_revenue",        # 6-way star join
    "x1_exact_dedup",           # hash dedup
    "x1_minhash_neardup",       # MinHash LSH near-dup
    "x2_cosine_topk",           # brute-force similarity
    "x3_token_stats",           # text analytics scan
    "x4_json_agg",              # JSON parse + agg
    "x6_quantiles",             # exact percentiles
    "x7_sessionize",            # gap sessionization (lag+cumsum windows)
    "x7_error_burst",           # bucketed range join
    "x2_norm_zscore",           # applyInPandas grouped map
    "x5_cube_status_priority",  # grouping sets
    "x1_dedup_keep_best",       # max_by survivor selection
    "w7_time_range_frame",      # time RANGE-frame moving aggregate
    "x3_tfidf_search",          # inverted-index probe + broadcast df join
    "x6_regression_stats",      # algebraic regression aggregates
    "x3_pack_sequences",        # sequence packing (window cumsum)
    "x2_quantized_codes",       # int8 quantization HOF chain
    "x1_fuzzy_name_pairs",      # blocked fuzzy join
    "x8_recursive_hierarchy",   # recursive CTE traversal
    "x6_drift_metrics",         # chi-square/PSI drift monitor
    "x1_contamination",         # broadcast shingle-containment scan
    "x1_contamination_indexed", # inverted-shingle-index contamination
    "x1_dup_clusters",          # near-dup pairs -> connected components
    "x3_repetition_stats",      # n-gram repetition profile
    "x9_media_pipeline",        # binary decode->resize->histogram (Arrow)
    "x9_image_stats_real",      # variance/gradient/entropy from real PGM decode
    "x6_stratified_split",      # deterministic stratified train/val/test
    "x7_asof_join",             # as-of (nearest-prior) temporal join
    "x5_q9_product_profit",     # 6-table profit star join
    "x6_quantiles_approx",      # GK sketch twin of x6_quantiles
    "x2_norm_zscore_native",    # window z-score (JVM twin of grouped-map)
    "x6_source_mixing",         # temperature-weighted source sampling
    "x6_global_shuffle",        # deterministic shuffle + shard assignment
    "x10_training_manifest",    # composed quality->dedup->decontam->pack plan
    "x10_crawl_manifest",       # URL canon/dedup/robots composed in front
    "x6_bh_fdr",                # multiple-testing correction over the metric family
    "x6_cohens_kappa",          # inter-rater agreement: heuristic vs teacher
    "x2_hybrid_search",         # lexical+vector RRF fusion (RAG retrieval)
    "x3_chunk_documents",       # overlapping-window RAG chunking
    "x1_semantic_dedup",        # SemDeDup: IVF-cluster-blocked cosine pruning
    "x1_domain_cap",            # per-source cap (domain balancing window)
    "x2_mmr_rerank",            # bounded-pool MMR diversification (applyInPandas)
    "u2_merge_upsert",          # MERGE INTO, shuffle-free broadcast-delta form
    "x1_repeated_passages",     # exact repeated 8-gram passages (substring dedup)
    "x1_repeated_passages_hashed",  # same detection, 8-byte xxhash64 shuffle key
    "x8_pagerank",              # 3-round distributed PageRank (iterative shuffle)
    "x6_dq_audit",              # constraint suite: aggs + broadcast anti-joins
    "x6_dataset_card",          # per-source datasheet (GK-sketch p50 scale form)
    "x1_allpairs_prefix",       # prefix-filtered exact all-pairs similarity join
    "x1_winnowing_fingerprints",  # MOSS winnowing (per-row window-min selection)
    "x1_winnowing_arrow",       # same selection, numpy-per-Arrow-batch scale form
    "x3_unigram_logprob",       # self-LM cross-entropy (perplexity-proxy filter)
    "x3_bm25_search",           # BM25 disjunctive ranking (inverted-index probe)
    "x1_dup_clusters_exact",    # exact-Jaccard pairs -> 3-round label propagation
    "x6_ks_drift",              # binned two-sample KS (continuous drift twin)
    "x6_entropy_profile",       # per-column Shannon entropy monitor
    "x2_random_projection",     # JL 64->16 unrolled codegen projection
    "x2_pq_codes",              # product-quantization encode (8x16 codebooks)
    "x5_market_basket",         # co-occurrence pairs + lift (basket-bounded join)
    "x6_outlier_profile",       # Tukey-fence outlier screen per group
    "x1_simhash_exact",         # oracled SimHash twin (md5-prefix bits)
    "x1_minhash_exact",         # oracled MinHash-LSH twin (xor-mult remixes)
    "x3_pmi_cooccurrence",      # windowed PMI collocations (linear pair gen)
    "x1_dup_clusters_star",     # Kiveris star closure over the exact pair graph
    "x1_contamination_bloom",   # Bloom decontamination screen (semi-join probes)
    "x1_source_overlap",        # cross-source shingle overlap matrix
    "x2_ivf_kmeans_topk",       # deterministic Lloyd-refined IVF (2 rounds)
    "x3_source_keywords",       # c-TF-IDF top-5 keywords per source
    "x7_zorder_locality",       # Morton-key layout audit (codegen bit math)
    "x3_bigram_logprob",        # bigram-LM cross-entropy (word-order filter)
    "x2_mrl_recall",            # Matryoshka truncation recall eval (16/32 dims)
    "x6_ab_test",               # hash-bucketed two-proportion z-test
    "x7_rate_anomaly",          # rolling z-score anomaly over the hourly rollup
    "x2_embedding_profile",     # norm/anisotropy embedding-space audit
    "x2_ivf_pq_topk",           # IVFADC: probe-pruned scan + PQ re-rank
    "x2_ivf_topk_from_artifact",  # serve from the persisted index tables
    "x2_ivf_pq_from_artifact",  # IVFADC from pre-encoded artifact codes
    "x2_mutual_knn",            # reciprocal-NN pairs, IVF-blocked
    "x2_index_staleness",       # per-cluster quantizer drift monitor
    "x8_bfs_layers",            # multi-source BFS over the co-purchase graph
    "x7_gap_profile",           # missing-hour completeness profile (scenario pair)
    "x1_cdc_chunks",            # content-defined chunking chunk-level dedup
    "x3_quality_train",         # distributed logistic-regression training
    "x6_dsir_select",           # DSIR hashed importance-weight selection
    "x6_quality_percentile_filter",  # per-source quality percent_rank cut
    "x7_twap",                  # time-weighted average (lead-duration window)
    "x1_dup_span_removal",      # excise duplicated 8-gram spans, keep-first
    "x6_weighted_sample",       # exponential-key weighted sample (A-ES)
    "x2_kcenter_select",        # k-center greedy diverse coreset (8 scans)
    "x6_countmin_est",          # Count-Min sketch est vs exact top tokens
    "x3_ccnet_bucket",          # CCNet head/middle/tail perplexity thirds
    "x3_zipf_fit",              # Zipf rank-frequency log-log OLS fit
    "x1_novelty_score",         # per-doc first-introduction 8-gram share
    "x1_contamination_fraction",  # per-train-doc eval-overlap dirtiness
    "x1_soft_dedup_weights",    # 1/dup_count reweight (raw vs effective mass)
    "x3_stupid_backoff",        # trigram stupid-backoff LM scoring
    "x6_kmv_distinct",          # k-minimum-values distinct sketch
    "x8_triangle_count",        # degree-ordered near-dup-graph triangles
    "x2_sq8_topk",              # SQ8 integer code-space top-10 + recall
    "x6_lorenz_gini",           # token-mass Gini + top-decile share
    "x2_cluster_quality",       # Lloyd cluster cohesion/separation report
    "x6_doremi_weights",        # excess-loss domain reweighting step
    "x3_bpe_train",             # 6-round BPE merge training loop
    "x7_ewma_smooth",           # per-user EWMA list-fold recursion
    "x3_chao1_richness",        # Chao1 unseen-gram + Good-Turing coverage
    "x7_acf",                   # lag-1..6 autocorrelation (dense rollup)
    "x7_seasonal_decompose",    # 25h-MA trend + hour-of-day seasonal split
    "x7_cusum_changepoint",     # CUSUM level-shift scan + argmax rank
    "x7_markov_transitions",    # event-type transition matrix (lead pairs)
    "x6_cramers_v",             # chi-square effect size (window marginals)
    "x8_assortativity",         # endpoint-degree Pearson on dup graph
    "x8_kcore",                 # 4-round k=2 peel (checkpointed rounds)
    "x8_link_prediction",       # co-purchase wedge scores (capped fan-out)
    "x3_readability",           # Flesch/FK scan-speed scorer
    "x10_curriculum_order",     # phase bands + sharded within-phase shuffle
    "x3_bpe_encode",            # learned-merge tokenizer apply + fertility
    "x7_sax_symbols",           # per-day SAX words (PAA + quartile breaks)
    "x6_mutual_information",    # MI/NMI over type x hour cells
    "x2_pca_power",             # 2-round power-iteration PCA train
    "x2_pca_project",           # top-component score/residual scan
    "x7_lttb_downsample",       # parallel LTTB chart downsampling
    "x7_theil_sen",             # robust median-slope trend (pair join)
    "x1_containment_pairs",     # asymmetric subset-dup containment
    "x2_knn_accuracy",          # blocked leave-one-out kNN label eval
    "x7_burstiness",            # Fano/burstiness/peak overdispersion
    "x2_bq_topk",               # 1-bit Hamming search + recall flag
    "x8_clustering_coeff",      # per-node triangle density (lcc)
    "x6_jsd_sources",           # per-source JSD vs rest-of-corpus
    "x7_seasonal_anomaly",      # residual z top-5 (composed decompose)
    "x6_calibration_bins",      # trained-student reliability deciles
    "x6_class_balanced_weights",  # effective-number source reweighting
    "x2_ndcg_eval",             # graded nDCG@10 of the Hamming ranking
    "x6_poisson_bootstrap",     # scalable bootstrap CI (32 replicas)
    "x7_hurst",                 # R/S long-range-dependence exponent
    "x7_ccf",                   # pairwise lagged cross-correlation
    "x7_kaplan_meier",          # censored time-to-first-error curve
    "x7_ljung_box",             # portmanteau white-noise gate (composed)
    "x1_lsh_recall_eval",       # banding recall vs exact ground truth
    "x1_simhash_recall_eval",   # SimHash fingerprint recall vs same truth
    "x6_hill_tail",             # heavy-tail exponent (top-k Hill)
    "x9_frame_sample_plan",     # video frame-sampling plan (explode)
    "x7_entropy_rate",          # Markov-chain predictability (composed)
    "x8_modularity",            # source-partition modularity of dup graph
    "x8_component_sizes",       # dup-component size histogram (star closure)
    "x2_pq_distortion",         # per-subspace PQ quantization error report
    "x6_chi2_keywords",         # chi-square domain-signature tokens
    "x7_peak_detection",        # strict-local-max + z>=2 hourly peaks
    "x7_retention_cohorts",     # cohort-day retention triangle
    "x2_label_auc",             # exact Mann-Whitney AUC of cosine ranking
    "x2_mmd_drift",             # RBF-kernel MMD two-sample drift report
    "x7_holt_linear",           # Holt level+trend fold over hourly rollup
    "x1_dedup_survivorship",    # per-source kept/dropped dedup accounting
    "x1_threshold_sweep",       # near-dup pair counts at tau 0.5..0.9
    "x3_type_token_ratio",      # lexical diversity (TTR/Guiraud/Herdan)
    "x6_kfold_assignment",      # deterministic k-fold balance audit
    "x7_mad_anomaly",           # median/MAD modified-z outlier screen
    "x10_packing_efficiency",   # per-shard fill-rate / waste report
    "x4_json_array_stats",      # JSON array parse + positional profile
    "x4_json_schema_profile",   # per-key presence/type discovery profile
    "x9_media_segment_plan",    # byte-budget packing of binary payloads
    "x10_epoch_plan",           # two-level token-budget epoch schedule
    "x3_char_entropy",          # bits/char compression-proxy per source
    "x6_welch_ttest",           # exact-integer-moment Welch t + null row
    "x7_gap_histogram",         # log2 inter-event gap distribution
    "x9_audio_frame_plan",      # rate-aware STFT-grid byte-range plan
    "x3_unigram_train",         # unigram-LM hard-EM tokenizer training
    "x3_unigram_encode",        # Viterbi apply + per-source fertility
    "x3_tokenizer_compare",     # BPE vs unigram pick-a-tokenizer report
    "x1_incremental_dedup",     # new-batch vs frozen-corpus screen
    "x10_mixture_schedule",     # annealed multi-epoch source mixing
    "x4_json_nested_explode",   # array-of-structs parse + tag profile
    "x2_ivf_probe_sweep",       # IVF recall-vs-scan tuning curve
    "x6_power_analysis",        # experiment sizing / MDE report
    "x10_resume_plan",          # shard-level training resume plan
    # round 10
    "x1_url_canonical",         # URL canonicalize + registered domain
    "x1_url_dedup",             # canonical-key URL dedup
    "x1_url_domain_stats",      # per-registered-domain crawl stats
    "x1_url_frontier",          # politeness-scheduled crawl frontier
    "x1_url_robots",            # RFC 9309 longest-match policy gate
    "x1_incremental_clusters",  # frozen-label cluster maintenance
    "x9_wav_decode_stats",      # REAL stdlib-wave PCM decode stats
    "x9_wav_spectral",          # fixed-bin DFT energy over decoded PCM
    "x9_phash_dedup",           # perceptual-hash image near-dup
    "x6_bootstrap_diff_ci",     # two-arm uplift bootstrap CI
    "x6_cuped_adjust",          # CUPED variance-reduced readout
    "x6_sequential_monitor",    # OBF-boundary sequential monitoring
    "x6_srm_check",             # sample-ratio-mismatch chi2 gate
    "x6_diff_in_diff",          # 2x2 DiD estimator
    "x6_mann_whitney",          # nonparametric rank-sum z
    "x8_hits",                  # HITS hubs/authorities (2 rounds)
    "x8_label_propagation",     # synchronous LPA over co-purchase graph
    "x3_wordpiece_encode",      # WordPiece greedy longest-match encode
    "x3_html_extract",          # WET-style HTML main-text extraction
    "x4_json_diff",             # JSON field diff (CDC primitive)
    "x7_ohlc_bars",             # hourly OHLC candlestick rollup
    "x6_winsorized_stats",      # robust winsorized/trimmed means
    "x6_anova_oneway",          # k-group F statistic + eta^2
    "x8_lpa_modularity",        # modularity scoring of LPA communities
    "x6_power_means",           # continuous-metric experiment sizing
    # round 12
    "x3_bpe_encode_from_artifact",    # tokenizer served from parquet artifact
    "x3_quality_model_from_artifact",  # quality report from loaded weights
    "x2_pca_project_from_artifact",   # projection from the persisted basis
    "x2_reindex_partial",             # flag-scoped partial re-Lloyd repair
    "x9_rgb_stats",                   # per-channel stats over real P6 decode
    "x8_ppr",                         # seeded random-walk-with-restart (3 rounds)
    "x10_dataset_diff",               # epoch-over-epoch training-set CDC
    "x6_tost",                        # TOST equivalence (scenario pair)
    "x9_silence_detect",              # VAD/trim profile over real WAV decode
    "x2_ann_delta_serve",             # top-k over base + streamed-delta union
    "x3_feature_hashing",             # hashing-trick bag-of-ngrams featurizer
    "x3_pii_scrub",                   # PII detect/redact compliance scan
    "x10_multimodal_manifest",        # img/audio gates + phash dedup + byte pack
    "x8_local_bridges",               # edge embeddedness / single-evidence merges
    "x1_longest_shared_span",         # variable-length shared-substring profile
    "x8_bridge_fragments",            # bridge-cut cluster-splitting preview
    "x6_conformal_bounds",            # split-conformal interval + coverage audit
    "x6_adjusted_effect",             # direct-standardization confounding guard
    "x6_k_anonymity",                 # re-identification audit over the QI ladder
    "x10_integrity_manifest",         # order-independent shard checksums + root
    "x2_mips_topk",                   # MIPS + norm-augmentation reduction witness
    "x3_encoding_audit",              # mojibake / replacement-char / ctrl screen
    # round 13 (r12 verdict ask #1): the COMPLETE x5 TPC-H-equivalent
    # suite benches — the shuffle-heaviest shapes in the repo
    # (q18 HAVING-on-big-agg, q21 multi-anti-join) were invisible to the
    # round-over-round timeline. Membership is lint-enforced
    # (tools/coverage_lint.py contract 5): an x5 query cannot register
    # without joining the bench.
    "x5_above_avg_orders",
    "x5_brand_volume",
    "x5_date_arithmetic",
    "x5_filtered_aggs",
    "x5_full_outer_recon",
    "x5_grouping_id",
    "x5_grouping_sets",
    "x5_lateral_topn",
    "x5_monthly_trend",
    "x5_order_lists",
    "x5_pivot_status",
    "x5_q10_returned_revenue",
    "x5_q11_important_parts",
    "x5_q12_late_priority_by_year",
    "x5_q13_order_count_distribution",
    "x5_q14_promo_share",
    "x5_q15_top_supplier",
    "x5_q16_supplier_part_counts",
    "x5_q17_small_quantity_revenue",
    "x5_q18_large_orders",
    "x5_q19_disjunctive_revenue",
    "x5_q20_volume_suppliers",
    "x5_q21_waiting_suppliers",
    "x5_q22_idle_customers",
    "x5_q2_min_cost_supplier",
    "x5_q4_priority_with_late_items",
    "x5_q6_revenue_delta",
    "x5_q7_volume_shipping",
    "x5_q8_market_share",
    "x5_rollup_customers",
    "x5_semi_join_high_value",
    "x5_set_ops",
    "x5_string_agg",
    "x5_unpivot_measures",
]
# x10_dedup_funnel stays OUT of the headline set (house rule: slow composed
# queries don't bench — it re-times its stages, which are all timed above;
# its correctness lives in the verify gate)


PIPE_N_FILES = 20000

# Queries whose builder RETURNS a session-memoized persisted frame — the
# frame IS the query result, so after rep-1 the noop sink measures an
# InMemoryTableScan readback, not computation (r13 verdict "What's wrong"
# #2 / ask #4). For THESE queries the reported per-query number is the
# FIRST rep (memo build + execute), so the artifact reflects computation
# at least once per session; the warm readback medians stay in
# BENCH_LOCAL.json under `queries_warm` so the cache-serving view is
# still visible. Membership is the mechanical `memoized-output` flag in
# tools/plan_inventory.py (steady-state plan = Project/Filter over
# InMemoryTableScan only); regenerate PLANS.md after adding a memo and
# mirror any new flag here.
MEMOIZED_OUTPUT = {
    "x1_simhash_exact",
    "x1_simhash_neardup",
    "x1_minhash_neardup",
    "x1_minhash_exact",
    "x1_dup_clusters_star",
    "x8_local_bridges",
    # found by the fixed r14 plan lint (the first regex anchored the
    # node id to the node name and missed qualified joins, so join-ful
    # plans looked trivial; after the fix these 7 PRE-EXISTING queries
    # genuinely return a session-memoized frame): their r13-and-earlier
    # warm medians were cache readbacks too
    "x1_allpairs_prefix",
    "x1_ngram_jaccard",
    "x1_winnowing_fingerprints",
    "x2_pq_codes",
    "x3_unigram_train",
    "x8_label_propagation",
    "x9_phash_dedup",
}


def _bench_pipeline(spark, n_files: int = PIPE_N_FILES,
                    reps: int = 3) -> dict:
    """ingest -> key-transform -> fake-ObjectStore upload -> report over a
    synthetic tree (BASELINE.md's pipeline workload; uploads/s is the
    reference's own headline metric, bulkupload.py:330).

    Median of ``reps`` FULL pipeline runs (each rep uploads into a fresh
    bucket + attempts dir over the same source tree) — the first rep also
    absorbs the one-time Python-worker/codegen warmup of the mapInPandas
    upload path (~7 s cold), which the median then discards. The resume
    fast-path (the reference's `WHERE uploaded=0` re-run, readme.md:42) is
    medianed the same way against the last completed attempts dir.

    Round-10 load hardening (r9 verdict ask #2 — the driver's uploads/s
    halved under co-running load while same-code idle runs held steady):
    the tree is 20k files (was 2k; ~1.7 s runs were FS-jitter-dominated — at 6k the no-change envelope still measured 1.196x, at 20k it meets the <=1.1x bar),
    the 1-minute load average is recorded at every rep boundary so a slow
    sample is attributable after the fact, and the returned dict carries
    the per-rep samples + the rate's own spread (median-rate vs
    best-rate) so the artifact reads as a distribution, not a point."""
    import shutil
    import statistics
    import tempfile

    from swiftbulkuploader_spark.plans.upload import run_pipeline
    from swiftbulkuploader_spark.sources.objectstore import StoreFactory

    root = tempfile.mkdtemp(prefix="bench_pipe_")
    try:
        src = os.path.join(root, "src")
        for i in range(n_files):
            d = os.path.join(src, f"d{i % 50:02d}")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"f{i:05d}.bin"), "wb") as fh:
                fh.write(os.urandom(256))
        up_samples, resume_samples, loads = [], [], []
        # one UNTIMED warmup rep: the cold first pipeline run pays
        # Python-worker spawn + codegen + src-tree page-cache fill
        # (~12 s vs ~2 s warm at 20k files) — with only 3 timed reps a
        # median can't fully discard a sample that extreme plus the
        # half-warm second rep, so warm explicitly and time only
        # steady-state runs
        warm_factory = StoreFactory(
            "localfs", root=os.path.join(root, "bucket_warm")
        )
        run_pipeline(spark, src, warm_factory,
                     os.path.join(root, "attempts_warm"),
                     cutoff="src", parallelism=16)
        def _one_rep(r: int) -> None:
            factory = StoreFactory(
                "localfs", root=os.path.join(root, f"bucket{r}")
            )
            attempts = os.path.join(root, f"attempts{r}")
            loads.append(round(os.getloadavg()[0], 2))
            t0 = time.time()
            # width 16: enough slots for the tiny files; wider just spawns
            # more Python workers than the work amortizes
            res = run_pipeline(spark, src, factory, attempts,
                               cutoff="src", parallelism=16)
            up_samples.append(time.time() - t0)
            assert res["uploaded"] == n_files, res
            # a re-run with everything uploaded must do no uploads
            t1 = time.time()
            res2 = run_pipeline(spark, src, factory, attempts,
                                cutoff="src", parallelism=16)
            resume_samples.append(time.time() - t1)
            assert res2["uploaded"] == n_files and res2["failed"] == 0, res2

        for r in range(reps):
            _one_rep(r)
        # load gate (r11 verdict ask #8): the committed artifact's pipeline
        # number must be a distribution statement, not load-noise — the r11
        # builder close recorded 7,302 uploads/s (spread 1.376) under a
        # co-running loadavg spike vs the driver's 10,895 (1.015). While
        # the median/min spread exceeds 1.1, run up to 4 extra reps (the
        # bench_ab re-measure discipline): extra samples dilute any slow
        # window out of the median instead of shipping it.
        extra = 0
        while reps >= 2 and extra < 4:
            dt_g = statistics.median(up_samples)
            if dt_g / min(up_samples) <= 1.1:
                break
            _one_rep(reps + extra)
            extra += 1
        loads.append(round(os.getloadavg()[0], 2))
        dt = statistics.median(up_samples)
        dt_min = min(up_samples)
        return {
            "sec": round(dt, 3),
            "sec_min": round(dt_min, 3),
            "rate": round(n_files / dt, 1),
            "rate_best": round(n_files / dt_min, 1),
            "rate_spread": round(dt / dt_min, 3),
            "resume_sec": round(statistics.median(resume_samples), 3),
            "n_files": n_files,
            "up_samples": [round(s, 3) for s in up_samples],
            "resume_samples": [round(s, 3) for s in resume_samples],
            "loadavg_1m": loads,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _family(name: str) -> str:
    """Collapse a query name to its operator family for the compact stdout
    line: q1_scan -> q, a8_rate_window -> a, x5_nation_revenue -> x5,
    pipeline_upload_20k_files -> pipeline."""
    head = name.split("_", 1)[0]
    if head.startswith("x"):
        return head
    if head == "pipeline":
        return head
    return head.rstrip("0123456789")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM, codegen, parquet footer caches
    registry.QUERIES["a1_total_count"](spark, sf_dir).collect()

    # clamp: reps < 1 would either crash (0) or silently degrade the
    # documented median-of-n>=3 headline to a single noisy sample
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    # pipeline FIRST: measured before any headline query pins a shared
    # persisted base, so the uploads/s number is attributable to the
    # upload plan alone (round-5 lesson — a single sample taken last in a
    # fully-warmed session was mistaken for an engine regression)
    pipe = _bench_pipeline(spark, reps=reps)
    pipe_sec, pipe_rate, resume_sec, pipe_min = (
        pipe["sec"], pipe["rate"], pipe["resume_sec"], pipe["sec_min"])

    # Interleaved round-robin scheduling (round-9 verdict ask #1): run
    # rep-1 of EVERY query, then rep-2, then rep-3 — instead of 3
    # consecutive reps per query. Machine-state drift (thermal/cgroup/
    # page-cache "weather", the measured ~1.35x same-code envelope in
    # SCALING.md) is slow relative to one query but fast relative to the
    # full suite; consecutive reps hand all of a query's samples to
    # whatever state its ~10 s slot landed in, so the MEDIAN inherits the
    # drift and manufactures per-query false regressions (adjudicated by
    # hand in r7 AND r8). Round-robin spreads each query's samples across
    # the whole run's state trajectory, so the median sees the mix.
    # Memoized shared bases (memo.py entries) behave identically under
    # either order: the first rep of the consuming query builds, later
    # reps hit, so rep-1 totals carry warmup and the median discards it.
    # Each rep still splits BUILD (Python/Py4J plan construction — the
    # x2_ivf_pq_topk trap) from EXECUTE (analysis + optimization + run
    # via the noop sink) per CLAUDE.md rule 10 / r7 ask #8; per-rep
    # durations AND start timestamps go to BENCH_LOCAL.json so a slow
    # sample can be correlated with its wall-clock window after the fact.
    per_samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    per_build: dict[str, list[float]] = {n: [] for n in HEADLINE}
    per_exec: dict[str, list[float]] = {n: [] for n in HEADLINE}
    per_t0: dict[str, list[float]] = {n: [] for n in HEADLINE}
    rep_windows: list[dict[str, float]] = []
    for r in range(reps):
        rep_start = time.time()
        for name in HEADLINE:
            fn = BENCH_OVERRIDES.get(name, registry.QUERIES.get(name))
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            per_t0[name].append(round(t0, 3))
            per_samples[name].append(t2 - t0)
            per_build[name].append(t1 - t0)
            per_exec[name].append(t2 - t1)
        rep_windows.append({
            "rep": r,
            "start_unix": round(rep_start, 3),
            "end_unix": round(time.time(), 3),
            "loadavg_1m": round(os.getloadavg()[0], 2),
        })

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    timings_build: dict[str, float] = {}
    timings_exec: dict[str, float] = {}
    timings_reps: dict[str, list[float]] = {}
    timings_warm: dict[str, float] = {}
    for name in HEADLINE:
        samples = sorted(per_samples[name])
        b_samples = sorted(per_build[name])
        e_samples = sorted(per_exec[name])
        timings[name] = round(samples[len(samples) // 2], 3)
        timings_min[name] = round(samples[0], 3)
        timings_build[name] = round(b_samples[len(b_samples) // 2], 3)
        timings_exec[name] = round(e_samples[len(e_samples) // 2], 3)
        timings_reps[name] = [round(s, 3) for s in per_samples[name]]
        if name in MEMOIZED_OUTPUT:
            # rep-1 (chronological first sample) is the only rep that
            # computes; report it, keep the warm readback median visible
            timings_warm[name] = timings[name]
            cold = round(per_samples[name][0], 3)
            timings[name] = cold
            timings_min[name] = cold

    timings["pipeline_upload_20k_files"] = pipe_sec
    timings_min["pipeline_upload_20k_files"] = pipe_min
    timings["pipeline_resume_noop"] = resume_sec
    timings_min["pipeline_resume_noop"] = resume_sec

    total = round(sum(timings.values()), 3)
    # min-of-n alongside median-of-n: the artifact carries its own error
    # bar (round-6 verdict ask #7) — a future ratio vs this round should be
    # read against spread = median_total/min_total, not as a point estimate
    # (SCALING.md measured a ~1.35x same-code machine-state envelope)
    total_min = round(sum(timings_min.values()), 3)
    spread = round(total / total_min, 3) if total_min else None
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # per-query detail -> file (committed per round); the stdout line
    # carries only per-family subtotals so it stays far under the
    # driver's 2000-byte tail capture whatever the query count grows to
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump({
            "metric": "total_query_sec",
            "value": total,
            "min_total": total_min,
            "spread": spread,
            "unit": "sec",
            "queries": timings,
            "queries_min": timings_min,
            "queries_build": timings_build,
            "queries_exec": timings_exec,
            "queries_reps": timings_reps,
            "queries_rep_t0": per_t0,
            "queries_warm": timings_warm,
            "memoized_output": sorted(MEMOIZED_OUTPUT),
            "rep_windows": rep_windows,
            "rep_order": "round_robin",
            "uploads_per_sec": pipe_rate,
            "uploads_per_sec_best": pipe["rate_best"],
            "uploads_spread": pipe["rate_spread"],
            "pipeline": pipe,
            "reps": reps,
            "sf": sf_val,
            "cpus": spark.sparkContext.defaultParallelism,
        }, fh, indent=1, sort_keys=True)
        fh.write("\n")

    # per-family subtotals AND per-family query counts (r13 verdict ask
    # #1): the suite grew 221 -> 265 inside the same family keys in r13
    # and the driver's family-ratio comparison was composition-poisoned
    # (x5 read 0.23x while its pre-existing queries were flat) — the
    # counts let a consumer normalize or reject unequal-set comparisons,
    # and `cpus` (the actual scheduler width, from local[$SPARK_GRAFT_CPUS])
    # makes the core contract auditable from the artifact itself.
    families: dict[str, float] = {}
    families_n: dict[str, int] = {}
    for name, sec in timings.items():
        fam = _family(name)
        families[fam] = round(families.get(fam, 0.0) + sec, 3)
        families_n[fam] = families_n.get(fam, 0) + 1
    print(json.dumps({
        "metric": "total_query_sec",
        "value": total,
        "min_total": total_min,
        "spread": spread,
        "unit": "sec",
        "queries": families,
        "queries_n": families_n,
        "uploads_per_sec": pipe_rate,
        "uploads_spread": pipe["rate_spread"],
        "n_queries": len(timings),
        "cpus": spark.sparkContext.defaultParallelism,
        "sf": sf_val,
        "detail": "BENCH_LOCAL.json",
    }, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
