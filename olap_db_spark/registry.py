"""Query registry: the single source of truth for the driver contract.

Every operator the engine claims (SURVEY.md §2) registers here as a named
query ``(spark, sf_dir) -> DataFrame`` plus, when SQL-expressible, a DuckDB
oracle SQL string computing the identical result on the same parquet tables.
``__spark_entry__`` is a thin view over this registry.

Determinism contract (applies to every oracle-checked query):
- every computed column is aliased identically in Spark and SQL;
- floating-point aggregates use order-independent integer arithmetic
  (see ``operators._determinism``) so the value hash is bit-stable;
- LIMIT queries carry a total order (unique tie-break column).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that self-register queries on import.
_QUERY_MODULES = (
    "olap_db_spark.operators.analytics",
    "olap_db_spark.operators.joins",
    "olap_db_spark.operators.aggregates",
    "olap_db_spark.operators.windows",
    "olap_db_spark.operators.setops",
    "olap_db_spark.operators.dedup",
    "olap_db_spark.operators.pagination",
    "olap_db_spark.operators.scalar_funcs",
    "olap_db_spark.operators.events_ts",
    "olap_db_spark.operators.text_analysis",
    "olap_db_spark.operators.fuzzy_dedup",
    "olap_db_spark.operators.similarity",
    "olap_db_spark.operators.multimodal_ops",
    "olap_db_spark.operators.metadata_ops",
    "olap_db_spark.operators.scale_techniques",
    "olap_db_spark.operators.kmeans",
    "olap_db_spark.operators.arg_aggregates",
    "olap_db_spark.operators.relevance",
    "olap_db_spark.operators.sketches",
    "olap_db_spark.operators.analytics_tpch",
    "olap_db_spark.operators.graph",
    "olap_db_spark.operators.data_selection",
    "olap_db_spark.operators.text_index",
)


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB-runnable ANSI SQL; None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, RegisteredQuery] = {}
_LOADED = False

# Driver-facing ordering. The driver evaluates exactly the first 50 entries
# of ``queries()`` in registration order, so ordering controls which queries
# earn a CORRECTNESS row each round. Names listed here come first (in this
# order); everything else follows in registration order.
#
_PRIORITY: tuple[str, ...] = (
    # ROUND-14 WINDOW (first 50 reach the driver). After CORRECTNESS_r13
    # (50/50 green) the staleness map is: 21 rows' latest green is round
    # 10 (the r13 deferred tail), 50 rows' latest green is round 11, and
    # the rest are round 12/13.
    #
    # Tier 0 — restructured in round 13 but outside its window (r13
    # VERDICT "Next round" #1): the PageRank iteration fold, and the IVF/PQ
    # eval twins plus sim_ivf_kmeans, which now read the fitted and
    # checkpointed frames.
    "graph_pagerank_purchases",
    "sim_ivf_eval",
    "sim_ivf_eval_sampled",
    "sim_pq_eval",
    "sim_pq_eval_sampled",
    "sim_ivf_kmeans",
    # Tier 1 — the 21 rows whose latest green is round 10 (the rotation
    # tripwire's must-have set).
    "agg_argmax_family",
    "agg_histogram",
    "agg_hll_mergeable",
    "agg_ohlc_hourly",
    "agg_percentile_approx",
    "agg_pivot",
    "agg_rollup",
    "agg_string_agg",
    "agg_topk_per_key",
    "func_array_ops",
    "func_conditional",
    "join_cross",
    "meta_show_create_table",
    "meta_show_databases",
    "q14_promo_revenue",
    "q19_brand_band_revenue",
    "q6_forecast_revenue",
    "setop_intersect",
    "setop_intersect_all",
    "setop_union_all",
    "setop_union_distinct",
    # Tier 2 — 23 of the 48 other round-11 rows, in registration order; the
    # remaining 25 lead the next rotation.
    "agg_corr_covar",
    "agg_median_exact",
    "agg_sum_map",
    "window_ranking",
    "window_running_sum",
    "window_lag_lead",
    "func_url_normalize",
    "func_split_key_epoch",
    "func_json_extract",
    "func_explode_wordcount",
    "func_string_family",
    "func_date_family",
    "func_regexp_family",
    "ts_tumbling_window",
    "ts_sliding_window",
    "ts_session_window",
    "ts_asof_prior_click",
    "ts_daily_rollup",
    "ts_gap_fill",
    "ts_funnel",
    "ts_cohort_retention",
    "ts_sequence_match",
    "join_asof_nearest",
)


def _ordered(names: list[str]) -> list[str]:
    """Priority names first (priority order), then the rest (registration order)."""
    pri = [n for n in _PRIORITY if n in names]
    rest = [n for n in names if n not in _PRIORITY]
    return pri + rest


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn`` as a named engine query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = RegisteredQuery(name, fn, oracle, tags)
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_queries() -> dict[str, RegisteredQuery]:
    _load()
    return {name: _REGISTRY[name] for name in _ordered(list(_REGISTRY))}


def query_fns() -> dict[str, QueryFn]:
    return {name: rq.fn for name, rq in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: rq.oracle for name, rq in all_queries().items() if rq.oracle is not None
    }
