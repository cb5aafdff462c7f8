"""Query registry backing ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 registers here as a
``QuerySpec``: a callable ``(spark, sf_dir) -> DataFrame`` plus (where the
semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL. The
driver's correctness gate runs both sides at sf0.01 and compares row count,
schema, and an order-insensitive value hash — so every computed column is
aliased identically on both sides, and float-producing aggregations either
go through exact DECIMAL arithmetic (bit-identical across engines) or are
explicitly rounded on both sides.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import.
_QUERY_MODULES = [
    "fawac_cdc_spark.operators.relational",
    "fawac_cdc_spark.operators.aggregates",
    "fawac_cdc_spark.operators.joins",
    "fawac_cdc_spark.operators.windows",
    "fawac_cdc_spark.operators.setops",
    "fawac_cdc_spark.operators.sampling",
    "fawac_cdc_spark.operators.tpch",
    "fawac_cdc_spark.operators.tpch_ext",
    "fawac_cdc_spark.operators.layout",
    "fawac_cdc_spark.operators.analytics",
    "fawac_cdc_spark.operators.stats_ext",
    "fawac_cdc_spark.operators.markov",
    "fawac_cdc_spark.operators.profiling",
    "fawac_cdc_spark.functions.text",
    "fawac_cdc_spark.functions.scalars",
    "fawac_cdc_spark.functions.preprocess",
    "fawac_cdc_spark.functions.dedup",
    "fawac_cdc_spark.functions.decontam",
    "fawac_cdc_spark.functions.similarity",
    "fawac_cdc_spark.functions.sketches",
    "fawac_cdc_spark.functions.multimodal",
    "fawac_cdc_spark.functions.traindata",
    "fawac_cdc_spark.sources.connectors",
    "fawac_cdc_spark.sources.npz_source",
    "fawac_cdc_spark.plans.reference",
    "fawac_cdc_spark.streaming.batch_equiv",
]

# Registry emission order.  The driver's correctness gate evaluates the
# FIRST 50 entries in insertion order, so ordering is part of the
# verification contract: _PRIORITY is that window (exactly 50 names,
# tests/test_oracle_parity.py pins it).  Everything outside the window
# stays covered by tools/parity.py full-registry sweeps (recorded in
# tools/parity_last.json and gated by tests/test_tools.py) and by
# tests/test_oracle_parity.py at sf0.001.
_PRIORITY = [
    "kendall_w_daily_types",
    "mantel_haenszel_returns",
    "logrank_test_purchase",
    "grubbs_outlier_daily",
    "bowker_symmetry_transitions",
    "cvm_test_type_hours",
    "seasonal_strength_hourly",
    "vocab_richness_estimators",
    "fuzzy_title_dedup",
    "jackknife_source_influence",
    "hopkins_clusterability",
    "rbo_retrieval_agreement",
    "shuffle_adjacency_audit",
    "conformal_residual_coverage",
    "kw_effect_sizes_event_types",
    "energy_distance_type_hours",
    "l_moments_event_values",
    "decile_treatment_effects",
    "simpsons_paradox_audit",
    "durbin_watson_daily",
    "cooks_distance_top_days",
    "zorder_bucket_stats",
    "approx_stats_error_bound",
    "binned_interval_join_counts",
    "bm25_topk_docs",
    "cdc_version_diff",
    "cms_user_event_estimates",
    "containment_dup_pairs",
    "cube_order_priority",
    "daily_event_spine",
    "dim_denormalize_supplier",
    "distinct_parts_per_flag",
    "dsir_gumbel_resample",
    "dsir_selected_docs",
    "embedding_margin_stats",
    "eval_stats_mean_stddev",
    "ewma_user_values",
    "expectile_loss_by_flag",
    "filter_range_scan",
    "gopher_quality_flags",
    "incremental_semantic_dedup",
    "ivf_multiprobe_topk_query1",
    "multiprobe_lsh_topk_query0",
    "nations_customers_intersect_suppliers",
    "near_dup_triangle_counts",
    "ngram_novelty_by_shard",
    "order_stats_with_median",
    "pagerank_near_dup",
    "prefix_half_per_user",
    "range_frame_trailing_hour",
]


# Queries registered since the last green full-registry parity sweep —
# empty: the round-15 closing sweeps (383/383 at sf0.01 AND sf0.1 on
# the final tree, tools/parity_last.json).
PENDING_SWEEP: frozenset[str] = frozenset()


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    doc: str = field(default="")


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a query fn under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    _load()
    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
