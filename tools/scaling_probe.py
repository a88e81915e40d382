"""Regenerate SCALING.md: per-query wall time across the three fixture
scale factors (100x data range), min-of-N with interleaved reps and a
JIT warm-up pass — the measurement discipline this box's noise demands.

The number that matters is the sf0.01 -> sf0.1 ratio (10x data): an
operator whose ratio is far above 10 has superlinear cost hiding in it;
well below 10 means fixed overhead still dominates at sf0.1. Run:

    PYTHONPATH=/root/repo python tools/scaling_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rocketmq_flink_spark.plans.catalog import REGISTRY  # noqa: E402
from rocketmq_flink_spark.session import get_spark  # noqa: E402

SFS = ["sf0.001", "sf0.01", "sf0.1"]
QUERIES = [
    "q1_pricing_summary",        # scan + decimal agg
    "q3_shipping_priority",      # multi-join + top-k
    "q21_waiting_suppliers",     # semi/anti joins
    "codec_roundtrip_agg",       # codec hot path
    "dedup_exact_docs",          # hash groupBy
    "ngram_jaccard_dedup",       # blocked self-join family
    "minhash_dedup_groups",      # map-only signatures + banding
    "simhash_near_pairs",        # block-pair index
    "knn_exact_topk",            # vectorized + decimal re-rank
    "text_quality_by_lang",      # pure-Catalyst text analysis
    "hll_distinct_parts",        # sketch registers
    "lm_surprisal_by_source",    # count-join LM scoring
    "pq_ann_topk",               # PQ codebooks + ADC + re-rank
    "fuzzy_decontamination_report",  # gram-blocked Levenshtein verify
    "semantic_dedup_drops",      # cluster-bounded pairwise cosine
    "bloom_decontamination",     # inlined-sketch membership probe
    "token_drift_report",        # exact TV drift monitor
    "leakage_safe_split",      # closure-keyed split
    "line_dedup_docs",         # hashed line-key anti-join
    "bpe_train_merges",        # iterative trainer (driver-sync/step)
    "containment_pairs_docs",  # asymmetric shingle containment
    "bm25_search_docs",        # postings-list retrieval
    "kmv_distinct_users",      # salted bottom-k sketch
    "dsir_importance_select",  # hashed log-ratio selection
    "ewma_event_rate",         # integer-fold monitor
    "nb_source_classifier",    # broadcast-scored NB
    "rrf_hybrid_search",       # BM25 + dense rank fusion
    "jl_projection_distortion",  # broadcast sign-matrix projection
    "source_vocab_jaccard",    # token-keyed source self-join
    "heaps_law_vocab_growth",     # first-occurrence prefix-sum curve
    "lang_similarity_jsd",       # shared-gram fp_log2 divergence
    "kaplan_meier_signup_to_purchase",  # fold-based survival
    "source_quality_calibration",  # per-source rank window
    "gini_order_concentration",  # histogram prefix-sum Gini
    "mann_kendall_trend_daily",  # calendar-bounded pairwise test
    "zipf_slope_by_source",     # vocab-ranked fp_log2 OLS
    "ams_f2_tokens",            # 16-sign sketch fold
    "nb_auc_eval",              # broadcast-scored rank-sum AUC
    "phrase_search_docs",       # positional postings probe
    "streaming_token_counts",   # stateful streaming count
    "mmr_diversified_topk",       # pool-cut + model-sized greedy
    "facility_location_select",   # submodular greedy, pool-bounded
    "rfm_user_segments",          # histogram quartile cuts
    "bigram_next_token_accuracy", # context-keyed model join
    "markov_stationary_eventtypes",  # 32-round tiny power iteration
    "jaccard_threshold_sensitivity", # shingle join, 5-way fan
    "fulfillment_latency_profile",   # SF x SF shuffle join
    "sprt_conversion_monitor",    # daily prefix-sum fold
    "functional_dependency_audit",   # 7x two-stage g3 aggregates
    "token_burstiness_report",    # per-doc count moments
    "slope_one_brand_recs",       # item-matrix self-join + broadcast
    "rake_keyword_extraction",    # islands window + vocab scores
    "bitmap_segment_intersections",  # word-packed set algebra
    "query_likelihood_search",    # postings + fp_log2 candidates
    "markov_removal_attribution", # journey counts + tiny fold
    "shapley_attribution",        # mask histogram + 16-cell zeta
    "ecod_anomaly_scores",        # 64 dim-windows + log join
    "consistent_hash_rebalance",  # 64-point ring argmin
    "encoding_size_planning",     # global run-count window
    "selectivity_estimation_report",  # r6: literal-stats + 2-pass ntile
    "compressed_media_features",  # r6: spread PNG+JPEG codec hops
    "restart_offsets_replay",     # r8: snapshot-split replay + distinct
    "per_queue_watermark_skew",   # r8: 8-group agg + broadcast-back
]
REPS = 3


def main() -> None:
    spark = get_spark(app_name="scaling_probe")
    times: dict[tuple[str, str], list[float]] = {}

    def run(name: str, sf: str) -> float:
        spark.catalog.clearCache()
        df = REGISTRY[name].fn(spark, f"/root/testdata/{sf}")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for name in QUERIES:  # JIT/codegen warm-up, not recorded
        run(name, "sf0.001")
    for _ in range(REPS):  # interleaved: noise spreads across cells
        for sf in SFS:
            for name in QUERIES:
                times.setdefault((name, sf), []).append(run(name, sf))

    lines = [
        "# SCALING — wall time vs data size (100x fixture range)",
        "",
        "Generated by tools/scaling_probe.py (min of "
        f"{REPS} interleaved reps, JIT-warmed, local[32]). The",
        "sf0.01->sf0.1 column is the ratio for 10x data: >>10 means",
        "superlinear cost; <10 means fixed overhead still dominates.",
        "Sub-second absolutes on this box carry ~±30% noise — read the",
        "ratios, not the third decimal.",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | 0.01->0.1 ratio |",
        "|---|---|---|---|---|",
    ]
    for name in QUERIES:
        t = {sf: min(times[(name, sf)]) for sf in SFS}
        ratio = t["sf0.1"] / t["sf0.01"] if t["sf0.01"] > 0 else float("nan")
        lines.append(
            f"| {name} | {t['sf0.001']:.3f} | {t['sf0.01']:.3f} |"
            f" {t['sf0.1']:.3f} | {ratio:.1f}x |"
        )
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "SCALING.md")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
