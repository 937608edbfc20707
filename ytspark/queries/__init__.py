"""Query registry — the engine's user-facing query surface.

Every entry pairs a DataFrame-API implementation with (where
SQL-expressible) an ANSI-SQL oracle that DuckDB can run on the same
parquet tables. The driver cross-checks them (row-count + schema +
order-insensitive value-hash) at sf=0.01; ``tools/oracle_check.py``
runs the same comparison locally.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    """One registered query: Spark impl + optional DuckDB oracle SQL."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
):
    """Decorator registering a (spark, sf_dir) -> DataFrame callable."""

    def wrap(fn):
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return wrap


# The driver's correctness gate checks the registry in iteration order
# and caps at the first 50 entries; ``_PRIORITY`` fixes that window and
# ``registry()`` puts it first. The window is generated, never edited
# by hand: ``tools/rotate_window.py`` prints this tuple and stamps
# ``WINDOW_ROTATION.json`` each round (never-passed names first, family
# coverage enforced by ``tools/check_priority_window.py``), and
# ``tests/test_priority_window.py`` is the tripwire for a stale stamp.
# Round-by-round rotation history is in git and the README.
_PRIORITY: tuple[str, ...] = (
    "mart_union_cast",  # repeat anchor: the flagship
    "dedup_minhash_clusters_distributed",
    "token_count_regex",
    "token_oov_rate_eval",
    "token_pmi_bigrams",
    "token_zipf_slope",
    "weighted_sample_per_source",
    "dedup_minhash_clusters",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "segment_balance_moments",
    "salted_events_hot_key_join",
    "nb_source_valuation",
    "multimodal_image_patchify",
    "quantile_normalize_apply",
    "search_rank_agreement_eval",
    "value_winsorize_stats",
    "markov_attribution_removal",
    "corpus_temperature_mixture",
    "nelson_aalen_hazard",
    "sliding_distinct_users_7d",
    "regression_normal_equations",
    "multimodal_image_resize",
    "quantile_normalize_sources",
    "welch_ttest_segments",
    "overlap_pair_explosion_guard",
    "ctfidf_source_keywords",
    "quantile_forecast_pinball",
    "ridge_regression_path",
    "multimodal_scene_change",
    "rare_category_collapse",
    "sequence_pattern_funnel",
    "doc_fingerprint_rolling",
    "seasonal_adjusted_anomalies",
    "target_encode_oof",
    "simpson_paradox_audit",
    "session_feature_vectors",
    "doc_overlap_chunks",
    "seasonal_decompose_weekday",
    "threshold_tuning_cost_curve",
    "t_closeness_emd_audit",
    "sessionization_gap_sweep",
    "dpo_preference_pairs",
    "trend_by_priority_ols",
    "state_duration_accounting",
    "heaps_law_fit",
    "woe_encoding_iv",
    "twap_value_by_type_day",
    "lang_id_confusion_matrix",
    "user_activity_overlap_pairs",
)


def registry() -> dict[str, Query]:
    # import for side effects: module bodies register their queries
    from ytspark.queries import decision_support, pipeline, relational  # noqa: F401
    from ytspark.operators import (  # noqa: F401
        affinity,
        batchmap,
        bloom,
        bpe,
        clustering,
        dedup,
        drift,
        fuzzy,
        graph,
        layout,
        learn,
        maintenance,
        multimodal,
        packing,
        pareto,
        profiling,
        search,
        segmentation,
        similarity,
        sketch,
        spatial,
        temporal,
        text,
        timeseries,
    )
    from ytspark.streaming import queries as streaming_queries  # noqa: F401

    missing = [n for n in _PRIORITY if n not in _REGISTRY]
    if missing:  # a rename must update _PRIORITY, loudly
        raise KeyError(f"_PRIORITY names not in registry: {missing}")
    ordered = {n: _REGISTRY[n] for n in _PRIORITY}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered
