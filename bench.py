"""Headline-query benchmark.

Runs the engine's representative queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation, no
driver collect — the same shape a cluster job has). A warmup run of the
flagship query absorbs JVM/codegen startup so timings measure the
engine, not the JIT. Per query the reported number is the BEST of
``$SPARK_GRAFT_BENCH_RUNS`` (default 2) executions: single-shot
timings on a shared box swing ±15-20% run-to-run, which would drown
real regressions; min-of-N is the standard way to measure the code
rather than the scheduler.
"""

from __future__ import annotations

import json
import os
import sys
import time

BENCH_QUERIES = [
    # reference surface
    "flagship_scan_filter",
    "q1_pricing_summary",
    "q3_order_revenue_topk",
    "q5_local_supplier_volume",
    "q14_promo_revenue",
    "json_props_rollup",
    "upsert_keep_last",
    "align_dense_ids",
    "sessionize_events",
    "hourly_windowed_counts",
    # north-star extensions
    "dedup_exact_hash",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "simhash_fingerprints",
    "simhash_neardups",
    "embedding_topk",
    # embedding_lsh_topk (fixed 8-bit) was demoted from this headline
    # list in round 8 (r7 VERDICT #3): it is the MEASURED failure-mode
    # exhibit (12.5x at 10x data; SCALE.md) kept in the catalog and the
    # stress sweep beside its self-tuned fix — not a query we'd ship as
    # a headline plan. It still runs under SPARK_GRAFT_BENCH_SET=full.
    "embedding_lsh_tuned_topk",
    "embedding_ivf_topk",
    "embedding_ivf_tuned_topk",
    "embedding_ivf_multiprobe_tuned",
    "text_quality",
    "tfidf_terms",
    "bm25_search",
]

#: The round-1 referent set: BASELINE.md's r1 and min-of-3 totals sum
#: over exactly these, so round-over-round total comparisons stay
#: like-for-like as the headline list changes. Originally the 21
#: round-1 queries; ``embedding_lsh_topk`` was demoted in round 8, so
#: this is the 20 survivors and BASELINE.md carries the adjusted
#: referent total (28.753 − 0.662 = 28.091 s).
R1_QUERIES = [q for q in BENCH_QUERIES if "tuned" not in q]

#: Drift anchor: `q1_pricing_summary` touches code no round has changed
#: since round 1, so its measured time is a pure box-speed probe. The
#: referent is the round-14 idle-box min-of-3 (BASELINE.md round-14
#: referent block); the emitted ``q1_anchor_ratio`` =
#: measured/referent makes every bench artifact self-interpreting —
#: a uniform total drift with the ratio ≈ the same factor is the box,
#: not the code (the signature that cost rounds 3-4, 6, 10 and 13
#: diagnosis time).
Q1_ANCHOR_REFERENT_SEC = 1.268

#: Round-4/5 catalog additions (llm-prep pipeline, TPC-H shapes,
#: ordering/range/rollup operators): benched under
#: ``SPARK_GRAFT_BENCH_SET=extended`` so BASELINE.md can carry a
#: min-of-3 referent for them and regressions are attributable
#: catalog-wide, without inflating the per-round driver bench.
EXTENDED_QUERIES = [
    # the demoted fixed-8-bit LSH failure-mode exhibit (see note in
    # BENCH_QUERIES): still measured catalog-wide, just not headline.
    "embedding_lsh_topk",
    "decontam_ngram_hits",
    "repetition_quality",
    "pii_redaction",
    "pack_sequences_stats",
    "unigram_surprisal",
    "chunked_documents",
    "corpus_shuffle_positions",
    "acctbal_band_counts",
    "multi_grain_rollup",
    "q6_forecast_revenue",
    "q8_market_share",
    "q10_returned_item_customers",
    "q13_order_distribution",
    "q15_top_suppliers",
    "q17_small_qty_revenue",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_parts",
    "q12_shipmode_priority",
    "q16_supplier_relationship",
    "q20_promotion_suppliers",
    "crossmodal_image_neardups",
    "dup_span_quality",
    "mixture_token_sample",
    "embedding_knn_join",
    "cube_revenue",
    "funnel_conversion",
    "weekly_retention_cohorts",
    "weighted_sample_per_source",
    "trade_graph_pagerank",
    "source_length_outliers",
    # absent from every bench list until round 9 — the stress sweep
    # derives its default set from these lists, so its scale rows were
    # silently missing (r8 VERDICT #3)
    "value_rank_dist",
    # round-9: the self-tuned scale twin of the exact near-dup
    # baseline (which stays the labelled quadratic exhibit)
    "embedding_neardups_tuned",
    # round-9: SemDeDup-style cluster-bounded semantic dedup
    "semantic_dedup_flags",
    # round-9: DSIR hashed n-gram importance resampling
    "dsir_source_importance",
    # round-9: fitted-literal PCA projection over embeddings
    "embedding_pca_labels",
    # round-9: water-filling token-budget mixture allocation
    "mixture_budget_allocation",
    # round-9: asymmetric batch-vs-index near-dup novelty
    "incremental_novelty_rate",
    # round-9: per-source adaptive quality-threshold filter
    "adaptive_quality_filter",
    # round-9: top-K bigram merge-coverage / OOV audit
    "vocab_oov_rate",
    # round-9: equi-depth (quantile) histogram per event type
    "value_equidepth_histogram",
    # round-9 second batch: IVF-PQ, ANN recall eval, Good-Turing,
    # Cohen's kappa, Poisson bootstrap, MMR rerank, conformal interval
    "embedding_pq_topk",
    "ann_recall_eval",
    "vocab_unseen_mass",
    "lang_id_kappa",
    "revenue_bootstrap_ci",
    "mmr_diversified_topk",
    "conformal_revenue_interval",
    "compaction_plan",
    "signup_psm_att",
    "event_stationary_dist",
    "source_ablation_effects",
    "nation_balance_fdr",
    "order_trimmed_mean",
    "channel_removal_effects",
    "source_quality_shrinkage",
    "rolling_backtest_mae",
    "code_switch_rate",
    "user_state_scd2",
    "supplier_busy_intervals",
    "cosupply_triangles",
    "source_capped_docs",
    "fuzzy_name_pairs",
    "hybrid_rrf_search",
    # round-10: the end-to-end corpus-prep composite (quality → lang →
    # exact/LSH/semantic dedup → decontam → budget sample → pack)
    "corpus_pipeline_stats",
    "corpus_ingest_stats",
    "corpus_ingest_semantic_stats",
    # round-10: k-round BPE merge trainer (chained-CTE static oracle)
    "bpe_merges_k",
    "bpe_encoded_fertility",
    # round-11: PQ-code election payload for SemDeDup (SDC scoring)
    "semantic_pq_dedup_flags",
    # round-11: ExactSubstr maximal duplicated-span extraction
    "exact_substr_spans",
    "exact_substr_char_spans",
    # round-11: temperature-scaled mixture allocation with epoch caps
    "temperature_mixture_allocation",
    # round-11: self-tuned twin of the join-shaped LSH scale exhibit
    "embedding_knn_join_tuned",
    # round-11: ExactSubstr removal (first occurrence survives)
    "exact_substr_dedup",
    # round-11: pre-dedup text normalization audit
    "text_normalization_stats",
    # round-12: tokenize-and-mix corpus→training-batches composite
    "tokenize_and_mix_stats",
    # round-12: portable-HLL uniqueness audit (dq_summary's scale twin)
    "dq_uniqueness_approx",
    # round-6 late additions
    "dedup_segments_rebuild",
    "sliding_distinct_users",
    "event_transition_probs",
    "price_size_frontier",
    "bpe_pair_counts",
    "supplier_reach_hops",
    "contrastive_negatives",
    "user_value_trends",
    "user_value_twap",
    "zorder_locality",
    "source_token_nucleus",
    "daily_transit_allocation",
    "orders_checksum",
    "state_value_attribution",
    "purchase_click_drift",
    "orderkey_skew_report",
    "cosupply_kcore",
    "collocation_pmi",
    "label_centroid_separation",
    "revenue_autocorrelation",
    "source_shingle_overlap",
    "benford_price_check",
    "conversion_latency_quantiles",
    "user_value_drawdown",
    "part_pair_lift",
    "frequent_event_trigrams",
    "supplier_path_costs",
    "audience_overlap",
    "revenue_changepoints",
    "weighted_median_price",
    "daily_value_anomalies",
    "user_heartbeat_gaps",
    "k_anonymity_audit",
    "cohort_ltv_curves",
    "user_stickiness",
    "nation_spend_gini",
    "user_behavior_entropy",
    "variant_conversion_ztest",
    "metric_correlation_matrix",
    "bloom_prefilter_revenue",
    "bigram_perplexity",
    "ewma_daily_value",
    "clamped_running_balance",
    "click_purchase_leadlag",
    "fd_discovery_lineitem",
    "dow_seasonality",
    "signup_conversion_survival",
    "dedup_canonical_map",
    "robust_trend_daily",
    "orders_reconciliation",
    "user_rfm_segments",
    "activity_powerlaw_fit",
    "conversion_gains_table",
    "ab_power_analysis",
    "lang_confusion_matrix",
    "purchase_burstiness",
    "copurchase_item_cf",
    "search_ndcg",
    "forecast_accuracy",
    "doc_readability",
    "purchase_value_ks_test",
    "column_dependence_mi",
    "purchase_did_estimate",
    # round-7 additions
    "embedding_ivf2_topk",
    # round-13 additions
    "embedding_ivf2_multiprobe_tuned",
    "pipeline_daily_cycle",
    "embedding_pq_multiprobe_tuned",
    "ann_recall_eval_multiprobe",
    # round-14: the index advisor over the recall-lever matrix
    "ann_index_advisor",
    "order_anova_by_priority",
    "event_dow_chisq",
    "purchase_mannwhitney",
    "lang_token_fertility",
    "dedup_yield_curve",
    "source_token_kl",
    "token_zipf_fit",
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    from tmdb_index_spark.queries import QUERIES
    from tmdb_index_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: JVM + codegen + parquet footer caches.
    QUERIES["flagship_scan_filter"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # Whole-pass repetition, not per-query: each pass starts from a
    # cleared cache and runs the list in order, so in-pass cache reuse
    # (e.g. minhash riding jaccard's shingle cache) matches the
    # round-1 methodology and no query is ever timed against its OWN
    # still-warm cache.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    bench_set = os.environ.get("SPARK_GRAFT_BENCH_SET", "headline")
    names = {
        "headline": BENCH_QUERIES,
        "extended": EXTENDED_QUERIES,
        "full": BENCH_QUERIES + EXTENDED_QUERIES,
    }[bench_set]
    # Referent maintenance: re-measure only the named queries (comma
    # list) without re-running the whole set.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        names = [n for n in wanted if n in QUERIES]
    timings: dict[str, float] = {}
    passes: list[dict[str, float]] = []
    from tmdb_index_spark.operators.materialize import release_pins

    for _ in range(runs):
        # Drop operator pins (cascade rollup hour/day frames, bm25
        # corpus cache, ...) AND the whole SQL cache between passes so
        # no query is ever timed against its own still-warm state and
        # repeated passes don't accumulate storage.
        release_pins(drop_all=True)
        spark.catalog.clearCache()
        this_pass: dict[str, float] = {}
        for name in names:
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            this_pass[name] = round(dt, 3)
            timings[name] = round(min(timings.get(name, dt), dt), 3)
        passes.append(this_pass)

    total = round(sum(timings.values()), 3)
    # "queries" is min-of-N (measures the code, not the scheduler);
    # "passes" carries every raw pass so any referent methodology —
    # single-shot (pass 0) or min-of-N — can be compared like for like.
    # "total_r1_set" sums only the round-1 referent queries so the
    # BASELINE.md r1/min-of-3 totals stay directly comparable after
    # headline additions.
    out = {
        "metric": f"{bench_set}_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "sf": sf,
    }
    if "q1_pricing_summary" in timings:
        out["q1_anchor_ratio"] = round(
            timings["q1_pricing_summary"] / Q1_ANCHOR_REFERENT_SEC, 3
        )
    if only:
        out["metric"] = "only_queries_total"
    elif bench_set == "headline":
        out["metric"] = "headline_queries_total"
        out["total_r1_set"] = round(
            sum(timings[q] for q in R1_QUERIES), 3
        )
    # The driver captures only a 2000-char TAIL of stdout and parses
    # the last line (seven rounds of "parsed": null taught us — r7
    # VERDICT #2): the full record, passes included, goes to a file
    # artifact; stdout gets ONE compact line without the passes so the
    # headline set fits the capture window whole.
    #
    # The passes artifact is per-SET (r8 ADVICE: an extended run must
    # not clobber the headline record) and round-stamped when the
    # caller exports SPARK_GRAFT_ROUND (r8 VERDICT #6: raw-pass
    # history survives the round, committed — not gitignored). Ad-hoc
    # SPARK_GRAFT_BENCH_ONLY runs skip the write entirely.
    if not only:
        stamp = os.environ.get("SPARK_GRAFT_ROUND")
        fname = f"BENCH_passes_{bench_set}" + (
            f"_r{stamp}" if stamp else ""
        ) + ".json"
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), fname),
            "w",
        ) as fh:
            json.dump(out, fh)
            fh.write("\n")
    compact = {k: v for k, v in out.items() if k != "passes"}
    # Non-headline sets carry ~45-190 queries: the timings dict alone
    # can overflow the driver's 2000-char tail capture, reintroducing
    # parsed-null (r8 ADVICE) — the file artifact keeps the detail,
    # stdout keeps only the totals.
    if bench_set != "headline" and not only:
        compact = {k: v for k, v in compact.items() if k != "queries"}
    print(json.dumps(compact, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
