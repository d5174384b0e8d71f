"""The benchmark's workloads: fixed lists of registry query names.

Each workload is run as a closed loop with one client: one query at a time,
the next one starting only after the previous one's build, execution and
cache clear have returned.  ``--seed`` only permutes the order of a list
within each pass; the lists themselves and the input tables never change.

The lists are subsets of the full reference surfaces.  A run has to fit the
benchmark's time budget (setup, one untimed check pass and three timed
passes in about a minute on four cores), and every query costs about a
second of fixed floor at this scale, so each workload keeps seven or eight
queries chosen for their layer mix.  ``README.md`` says which layers each
workload stresses and which it is predicted to leave alone.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # The reference's ETL and reporting surface: JVM-only joins, aggregates,
    # windows and grouping sets over two to four table reads per query, all
    # oracled.  Queries whose result is a copy of a fact table (row-level
    # cleaning, per-order features) are left out: comparing 60 k rows costs
    # more than the query.
    "reports": [
        "rfm_demographics",
        "cohort_rates",
        "weekly_revenue_growth",
        "pricing_summary",
        "association_rules_2item",
        "cube_sales",
        "nation_market_share",
        "merge_upsert",
    ],
    # LLM data-pipeline operators: the Python/Arrow boundary (resize_media,
    # and applyInPandasWithState in streaming_stateful_user_sessions), a
    # driver-side loop with localCheckpoint inside the builder
    # (dedup_groups, over MinHash-LSH pairs), regex text operators, and two
    # micro-batch streams driven to completion inside their builders, with
    # state-store and checkpoint-log writes.
    "curation": [
        "dedup_exact",
        "text_quality",
        "pii_scrub",
        "resize_media",
        "dedup_groups",
        "streaming_incremental_dedup",
        "streaming_stateful_user_sessions",
    ],
}
