"""Dump annotated physical plans for the headline queries → PLANS.md.

The ".explain and iterate" artifact: for each headline query, record the
formatted plan and extract the scale-relevant facts (join strategies,
pushed filters, read schemas, exchange count) so regressions are visible
in review.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

HEADLINE = [
    "ann_recall_eval",
    "embedding_near_dup_pairs_lsh",
    "embedding_near_dup_recall_lsh",
    "revenue_anomalies",
    "pareto_suppliers",
    "trend_mann_kendall",
    "dataset_card",
    "benford_price_audit",
    "rfm_demographics",
    "weekly_demand",
    "repurchase_labels",
    "sales_by_region",
    "segmentation_features",
    "pricing_summary",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_prefix",
    "ann_ivfpq_topk",
    "minhash_lsh_pairs",
    "ann_bruteforce_topk",
    "sessionize",
    "asof_view_before_purchase",
    "snapshot_diff",
    "merge_upsert",
    "hash_split",
    "pack_sequences",
    "bpe_token_stats",
    "campaign_event_rollup",
    "heavy_hitters",
    "tfidf_top_terms",
    "supplier_revenue_ranks",
    "semantic_dedup",
    "semantic_dedup_lsh",
    "pii_scrub",
    "unigram_freq_scores",
    "ngram_lm_counts",
    "lm_perplexity_scores",
    "rrf_hybrid_topk",
    "gdpr_forget_audit",
    "k_anonymity_profile",
    "inverted_index",
    "coupon_first_purchase",
    "duplicate_passages",
    "documents_jsonl_roundtrip",
    "rfm_scores",
    "vocab_table",
    "household_penetration",
    "demand_forecast",
    "weekly_demand_fast",
    "price_decile_assignments",
    "source_overlap_kmv",
    "source_novelty",
    "bm25_topk",
    "stratified_sample",
    "pack_sequences",
    "incremental_weekly_merge",
    "price_histogram",
    "weekly_sales_gapfill",
    "funnel_stages",
    "event_transition_matrix",
    "sales_stats_by_flag",
    "price_outliers_iqr",
    "retention_triangle",
    "order_shipping_priority",
    "local_supplier_volume",
    "returned_item_report",
    "late_shipment_priority_counts",
    "small_quantity_revenue",
    "latest_order_per_customer",
    "forecast_revenue_change",
    "product_type_profit",
    "nation_pair_volume",
    "order_count_distribution",
    "waiting_suppliers",
    "idle_wealthy_customers",
    "nation_revenue_share",
    "customer_order_lifecycle",
    "null_semantics_probe",
    "part_channel_overlap",
    "dq_referential_audit",
    "weekly_sales_interpolated",
    "chunk_documents",
    "quantity_central_tendency",
    "embedding_centroids",
    "churn_features",
    "min_cost_supplier",
    "nation_market_share",
    "important_part_values",
    "linestatus_priority_counts",
    "part_supplier_counts",
    "excess_quantity_suppliers",
    "dataset_mixture",
    "event_type_islands",
    "nation_extreme_customers",
    "doc_repetition_stats",
    "scd2_priority_history",
    "rolling_distinct_users",
    "fuzzy_name_pairs",
    "purchase_touch_attribution",
    "weekly_revenue_growth",
    "nation_top_types_with_others",
    "incremental_dedup_new_docs",
    "join_key_skew_profile",
    "phrase_candidates",
    "scd2_point_in_time_lookup",
    "association_rules_2item",
    "top_session_paths",
    "order_gap_stats",
    "triangle_counts",
    "triangle_counts_sampled",
    "clustering_coefficients",
    "dunnhumby_combined_csv",
    "ann_mmr_topk",
    "image_phash_pairs",
    "bpe_encode_stats",
    "dsir_importance_weights",
    "length_bucketed_batches",
    "expectations_report_all",
    "documents_quarantine",
    "salted_user_event_counts",
    "salted_event_category_rollup",
    "temperature_mixture_sample",
    "price_outliers_mad",
    "ks_test_returnflag",
    "chi2_priority_region",
    "winsorized_price_stats",
    "normalized_dedup",
    "embedding_quantize_int8",
    "priority_sample_by_source",
    "bigram_coverage_scores",
    "theil_sen_weekly_trend",
    "hits_bipartite_scores",
    "token_diversity_by_source",
    "open_lines_by_week",
    "quality_score_auc",
    "quality_score_calibration",
    "item_item_cosine_topk",
]


def _dedup_cached_subtrees(plan: str) -> str:
    """Collapse repeated InMemoryRelation DEFINITION bodies to one copy.

    The tree string reprints a cached relation's full child plan at
    every one of its scan sites, so a naive text count multiplies the
    cached subtree's exchanges by its consumer count — which both
    overstates what executes (the definition runs once; consumers read
    blocks) and biases the budget gate AGAINST cache-boundary
    optimizations (optimization round r10: persisting a fan-out
    aggregate LOWERED executed exchanges but RAISED the text count).
    Blocks are keyed by their indentation-normalized text, so identical
    definitions count once while genuinely different caches all count.
    """
    def depth(ln: str) -> int:
        m = re.search(r"[+:]- ", ln)
        return m.start() if m else -1

    def norm_key(block: list[str]) -> str:
        return "\n".join(re.sub(r"^[\s:+-]*", "", x) for x in block)

    seen: set[str] = set()

    def walk(lines: list[str]) -> list[str]:
        out: list[str] = []
        i = 0
        while i < len(lines):
            ln = lines[i]
            if "InMemoryRelation" in ln and depth(ln) >= 0:
                d = depth(ln)
                j = i + 1
                while j < len(lines) and depth(lines[j]) > d:
                    j += 1
                key = norm_key(lines[i:j])
                if key not in seen:
                    seen.add(key)
                    out.append(ln)
                    # recurse: a definition's own nested cached scans
                    # reprint THEIR definitions too — each distinct
                    # relation's body must count exactly once.
                    out.extend(walk(lines[i + 1 : j]))
                i = j
                continue
            out.append(ln)
            i += 1
        return out

    return "\n".join(walk(plan.splitlines()))


def _count_shuffle_exchanges(plan: str) -> int:
    """Shuffle exchanges that would EXECUTE, not textual occurrences.

    Every physical node prints a unique ``plan_id``; a cached relation's
    definition reprinting at several scan sites shows the SAME ids, while
    a genuinely duplicated (un-reused, un-cached) subtree has fresh ids
    per copy.  Counting distinct ids therefore matches executed shuffles
    exactly — the raw text count multiplied cached subtrees by their
    consumer count, which biased the budget gate AGAINST cache-boundary
    optimizations (optimization round r10: persisting a fan-out
    aggregate LOWERED executed exchanges but RAISED the text count; the
    rfm_scores budget carried 28 where 10 execute).  ``ReusedExchange``
    references never match the pattern, so runtime reuse is free as
    before.  An exchange printed without a plan_id has nothing to dedup
    on, so each such occurrence counts once — in an id-less plan that is
    the plain text count, and in a mixed plan those exchanges are no
    longer dropped."""
    hits = re.findall(
        r"Exchange hashpartitioning(?:.*?\[plan_id=(\d+)\])?", plan
    )
    return len({h for h in hits if h}) + hits.count("")


def summarize(plan: str) -> dict[str, object]:
    shuffles = _count_shuffle_exchanges(plan)
    plan = _dedup_cached_subtrees(plan)
    return {
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "shuffle_exchanges": shuffles,
        "pushed_filters": len(
            [ln for ln in plan.splitlines() if "PushedFilters: [" in ln and "PushedFilters: []" not in ln]
        ),
        "python_eval": plan.count("EvalPython"),
        "cartesian": plan.count("CartesianProduct"),
    }


def main() -> None:
    import __spark_entry__ as entrymod
    from retail_sales_project_bigdata_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    # plan WITHOUT AQE placeholders so join strategies/codegen are visible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    queries = entrymod.queries()

    out = ["# PLANS — physical-plan audit of headline queries", ""]
    out.append(f"Generated by tools/plan_audit.py over {sf_dir} (AQE off for")
    out.append("plan readability; AQE is ON in production sessions).")
    out.append("")
    for name in HEADLINE:
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        s = summarize(plan)
        out.append(f"## {name}")
        out.append("")
        out.append(
            f"- joins: {s['broadcast_hash_joins']} broadcast-hash, "
            f"{s['sort_merge_joins']} sort-merge; "
            f"shuffles: {s['shuffle_exchanges']}; "
            f"scans with pushed filters: {s['pushed_filters']}; "
            f"python-eval nodes: {s['python_eval']}; "
            f"cartesian: {s['cartesian']}"
        )
        out.append("")
        out.append("```")
        # keep plans readable: first 40 lines
        lines = plan.splitlines()
        out.extend(lines[:40])
        if len(lines) > 40:
            out.append(f"... ({len(lines) - 40} more lines)")
        out.append("```")
        out.append("")
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
