"""Unified query registry: name -> (spark builder, optional DuckDB oracle).

This is the surface `__spark_entry__.py` exposes to the driver. Queries with
``oracle=None`` are non-SQL-expressible (the driver records a rows-only
check for those).
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

from hadoop_jobanalyzer_spark.plans.tables import load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]

# Every query module, in registry order; each exports one dict named after
# itself in upper case (core_queries -> CORE_QUERIES). A module that fails
# to import fails the registry, so no query family can drop out silently.
QUERY_MODULES = tuple(
    import_module(f"hadoop_jobanalyzer_spark.plans.{name}")
    for name in (
        "core_queries",
        "pipeline_queries",
        "extended_queries",
        "analytics_queries",
        "sketch_queries",
        "warehouse_queries",
        "corpus_queries",
        "behavior_queries",
        "mining_queries",
        "planner_queries",
        "curation_queries",
        "model_queries",
        "sampling_queries",
    )
)


def _merge(modules: tuple[ModuleType, ...]) -> dict[str, tuple[QueryFn, str | None]]:
    out: dict[str, tuple[QueryFn, str | None]] = {}
    for module in modules:
        table = getattr(module, module.__name__.rsplit(".", 1)[1].upper())
        for name, query in table.items():
            if name in out:
                raise ValueError(f"query {name} registered twice ({module.__name__})")
            out[name] = query
    return out


QUERIES = _merge(QUERY_MODULES)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in QUERIES.items()}


# DuckDB silently widens SUM over INTEGER/BIGINT to HUGEINT (int128).  The
# driver's value hash canonicalizes by each engine's own representation, so a
# HUGEINT oracle column hash-mismatches Spark's BIGINT even when every value
# is bit-identical (HUGEINT does not round-trip as int64 through pandas — it
# degrades to float64/object, so 4363 hashes as 4363.0).  Every column listed
# here is an integer aggregate whose values fit comfortably in int64 (the
# Spark side computes the same value as LongType); the cast only fixes the
# declared type.  `tools/hugeint_scan.py` + tests/test_registry_smoke.py keep
# this list exhaustive: any oracle that leaks a HUGEINT output column fails
# the suite.
_BIGINT_CASTS: dict[str, tuple[str, ...]] = {
    "q141_spearman_len_tokens": ("s_d2",),
    "q149_time_weighted_value": ("total_ms",),
    "q150_ks_length_drift": ("d_num",),
    "q153_gapfill_interpolation": ("filled_num",),
    "q155_cheapest_supplier_per_part": ("cost_cents", "qty"),
    "q156_dormant_segment_profile": ("bal_cents",),
    "q157_next_word_branching": ("total",),
    "q160_hourly_anomaly_flags": ("dev", "var_num"),
    "q161_nation_trade_volume": ("revenue_cents",),
    "q162_customer_spend_ranks": ("spend_cents",),
    "q163_rolling_correlation": ("corr_num",),
    "q164_weighted_median_value": ("total_weight",),
    "q165_local_supplier_volume": ("revenue_cents",),
    "q166_decayed_engagement": ("score",),
    "q167_funnel_duration_quartiles": ("n_matches",),
    "q170_band_revenue": ("revenue_cents",),
    "q171_returned_item_customers": ("revenue_cents",),
    "q173_cohort_ltv_curves": ("revenue_cents", "cum_revenue_cents"),
    "q174_temporal_lookup_join": ("value_cents",),
    "q175_brand_discount_qty_corr": ("corr_num",),
    "q178_ab_experiment_readout": ("value_cents",),
    "q179_forecast_revenue_delta": ("revenue_cents",),
    "q180_promo_revenue_share": ("promo_cents", "total_cents"),
    "q181_large_volume_customers": ("order_qty",),
    "q183_top_supplier_per_quarter": ("revenue_cents",),
    "q184_label_medoids": ("sum_sq_dist",),
    "q188_shipping_priority": ("revenue_c",),
    "q189_product_margin": ("profit_c",),
    "q191_important_parts": ("value_c",),
    "q193_late_priority_split": ("high_line_count", "low_line_count"),
    "q194_source_tv_distance": ("tv_num",),
    "q195_token_fertility": ("n_words", "n_tokens"),
    "q196_mixing_apportionment": ("n_tokens", "base_alloc", "alloc"),
    "q200_rolling_median_revenue": ("revenue_c", "med7_c"),
    "q201_epoch_shuffle_audit": ("sum_fold", "xor_fold"),
    "q202_batch_padding_efficiency": ("n_tokens", "pad_tokens"),
    "q204_dedup_token_savings": ("n_removed", "tokens_total", "tokens_saved"),
    "q205_filter_ablation": ("n_tokens",),
    "q207_fd_audit": ("n_violating",),
    "q209_join_size_forecast": ("join_rows",),
    "q210_adoption_curve": ("n_total",),
    "q211_ship_lag_percentiles": ("n_lines",),
    "q212_supplier_scorecard": ("revenue_c",),
    "q213_lang_source_residuals": ("dev",),
    "q214_value_gini": ("total_c",),
    "q215_training_mix_manifest": ("tokens_selected",),
    "q216_lsh_banding_planner": ("n_buckets_multi",),
    "q217_compaction_plan": ("group_bytes",),
    "q218_group_kfold": ("n_tokens",),
    "q221_truncation_planner": ("docs_over", "total_tokens", "tokens_lost"),
    "q222_dedup_threshold_sweep": ("n_pairs_ge",),
    "q223_watermark_planner": ("n_events", "n_late"),
    "q224_join_strategy_advisor": ("est_bytes",),
    "q225_write_size_planner": ("bytes", "n_files", "docs_per_file"),
    "q226_session_timeout_grid": ("n_sessions",),
    "q228_distinctive_terms": ("c_rest",),
    "q229_quality_dup_calibration": ("n_dup",),
    "q230_k_anonymity": ("n_rows", "rows_at_risk"),
    "q90_sq8_error_histogram": ("err_bucket",),
}


def _retype_bigint(sql: str, cols: tuple[str, ...]) -> str:
    """Wrap an oracle so the listed columns leave as BIGINT, not HUGEINT.
    ``SELECT * REPLACE`` keeps column order/names and touches only the
    declared type; the int128 arithmetic inside stays exact."""
    replaces = ", ".join(f'CAST("{c}" AS BIGINT) AS "{c}"' for c in cols)
    return f"SELECT * REPLACE ({replaces}) FROM (\n{sql}\n) AS _retyped"


def oracle_sql() -> dict[str, str]:
    return {
        name: _retype_bigint(sql, _BIGINT_CASTS[name]) if name in _BIGINT_CASTS else sql
        for name, (_, sql) in QUERIES.items()
        if sql is not None
    }


__all__ = ["QUERIES", "QUERY_MODULES", "queries", "oracle_sql", "load_tables"]
