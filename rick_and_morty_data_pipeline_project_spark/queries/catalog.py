"""The named-query catalog exported through __spark_entry__.py: one
name -> ``Q`` registry built from the per-family query modules.

Entries with ``sql`` set are hash-verified against DuckDB; ``sql=None``
entries get a rows-only check and are covered by Python oracles in
tests/.  The driver hash-checks the FIRST 50 entries of ``queries()``,
so each of them must carry an oracle: ``DRIVER_WINDOW`` pins those 50
names and the asserts below hold them to it.
"""

from __future__ import annotations

from rick_and_morty_data_pipeline_project_spark.queries import (
    bbitq,
    bpeq,
    coarsenq,
    compactq,
    extraq,
    lakeq,
    lmq,
    mmq,
    npstatq,
    opqq,
    pqq,
    reference,
    retrievalq,
    runcardq,
    sketchq,
    statsq,
    textq,
    tpch,
    tpchf,
    tpchx,
    vecq,
    vecxq,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q

QUERIES: dict[str, Q] = {}
for mod in (
    tpch, tpchx, tpchf, textq, vecq, extraq, mmq, reference, sketchq, bpeq,
    retrievalq, lakeq, statsq, pqq, coarsenq, opqq, compactq, vecxq, lmq, bbitq, npstatq,
    runcardq,
):
    for name, q in mod.QUERIES.items():
        assert name not in QUERIES, f"duplicate query name: {name}"
        QUERIES[name] = q

DRIVER_WINDOW: list[str] = [
    "dedup_dup_factor_profile",
    "curation_run_card_whatif",
    "curation_run_card",
    "dedup_jaccard_prefix_join",
    "dedup_lsh_banding_frontier",
    "dedup_threshold_frontier",
    "knn_frontier_recall_cost",
    "knn_ivf_probe_frontier",
    "flagship_greedy_match",
    "flagship_best_match_with_replacement",
    "agg_sorted_string",
    "events_survival_km",
    "graph_kcore_peel",
    "graph_triangle_count",
    "mv_incremental_refresh",
    "privacy_k_anonymity",
    "profile_drift_orders",
    "supplier_market_hhi",
    "table_range_partition_plan",
    "table_zorder_layout",
    "agg_exact_distinct",
    "agg_grouping_sets",
    "agg_macro_avg_rounded",
    "agg_percentiles",
    "agg_rollup_region_nation",
    "array_functions",
    "audit_row_constraints",
    "audit_table_checksum",
    "basket_part_affinity",
    "customer_rfm_segments",
    "decontaminate_ngram_overlap",
    "dedup_embedding_cosine",
    "dedup_minhash_estimate_audit",
    "dedup_semantic_clusters",
    "dedup_simhash",
    "embedding_norms",
    "events_hourly_rollup",
    "join_asof_click_error",
    "join_interval_bucketized",
    "join_on_expression",
    "join_pit_segment_revenue",
    "join_range_user_window",
    "join_self_lineitem_pairs",
    "join_semi_customers_with_open_orders",
    "pivot_event_type_by_day",
    "q2_scan_filter_project",
    "sample_source_mixture",
    "scalar_math_functions",
    "scalar_null_conditional",
    "scalar_regex_functions",
]
for _name in DRIVER_WINDOW:
    assert _name in QUERIES, f"unknown query in DRIVER_WINDOW: {_name}"

# Canonical-literal oracles (knn_cosine_ivf_kmeans, the PCA
# projection, ...) are fit from the sf0.01 testdata at import; on a
# machine without the testdata tree those entries degrade to rows-only.
# Keep the window all-oracled by swapping any degraded entry for an
# ever-green spare that still carries its oracle.
_SPARES = [
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_nation_volume",
    "q6_forecast_revenue",
    "knn_cosine_bruteforce",
    "text_quality_scores",
    "knn_cosine_ivf",
    "topk_two_stage_parts",
]
_spares = [
    s for s in _SPARES if s not in DRIVER_WINDOW and QUERIES[s].sql is not None
]
_degraded = [n for n in DRIVER_WINDOW if QUERIES[n].sql is None]
if len(_degraded) > len(_spares):
    raise RuntimeError(
        f"{len(_degraded)} window entries degraded to rows-only "
        f"(missing testdata for canonical-literal oracles: {_degraded}) "
        f"but only {len(_spares)} oracled spares are available — "
        "cannot keep the driver window all-oracled"
    )
DRIVER_WINDOW = [
    n if QUERIES[n].sql is not None else _spares.pop(0) for n in DRIVER_WINDOW
]

assert len(DRIVER_WINDOW) == 50, len(DRIVER_WINDOW)
assert len(set(DRIVER_WINDOW)) == 50, "duplicate name in DRIVER_WINDOW"
for _name in DRIVER_WINDOW:
    assert QUERIES[_name].sql is not None, f"window entry lacks oracle: {_name}"

# The window leads; every other entry follows in registry order.
QUERIES = {**{name: QUERIES[name] for name in DRIVER_WINDOW}, **QUERIES}


def queries_dict():
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql_dict():
    return {name: q.sql for name, q in QUERIES.items() if q.sql is not None}
