"""Query registry: named engine queries paired with DuckDB oracles.

Every operator class from SURVEY.md §2 is exercised by at least one
named query over the driver's synthetic tables. A query is a
``(spark, sf_dir) -> DataFrame`` builder; its oracle is an ANSI-SQL
string DuckDB runs over the same parquet files. The driver compares
row count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides,
- float aggregates are rounded identically on both sides,
- any top-k has a fully deterministic tie-break.

Queries without an oracle (``oracle=None``) are genuinely
non-SQL-expressible (iterative / stateful) and get the driver's weaker
rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: QueryBuilder
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryBuilder], QueryBuilder]:
    """Register a named query (decorator)."""

    def deco(fn: QueryBuilder) -> QueryBuilder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return deco


#: Explicit registry ordering for external harnesses. The driver
#: verifies the FIRST 50 registry entries per round, so the order is
#: rotated each round. Round-14 rotation (optimization round - no new
#: queries): the six money-rebased entries not yet driver-certified on
#: their exact-cents form (q01/q03/q71/q99/q153/q193; the other four
#: rebased names were in the r13 window), then the 44 entries with the
#: OLDEST driver certification (the r05 band remainder + the oldest
#: r06 band), computed from the CORRECTNESS_r* artifacts.
#: Every entry has a strict oracle; all pass the local strict checker
#: and driver_sim on current data. The two declared rows-only entries
#: (q28, q230) are deliberately not given window slots.
_DRIVER_ORDER = [
    "q01_pricing_summary",
    "q03_region_nation_revenue",
    "q71_hash_split",
    "q99_salted_join",
    "q153_horvitz_thompson_audit",
    "q193_hierarchical_shares",
    "q133_containment_pairs",
    "q134_mixture_rebalance",
    "q136_partition_size_planner",
    "q137_idf_weighted_jaccard",
    "q138_event_transition_matrix",
    "q139_community_modularity",
    "q140_ann_topk_multitable",
    "q141_inverted_index",
    "q142_ann_recall_audit",
    "q143_int8_quantization_audit",
    "q144_spend_quintile_mobility",
    "q145_weighted_median_grouped_agg",
    "q148_join_preserving_pseudonymization",
    "q149_laplace_noisy_counts",
    "q150_per_slice_metrics",
    "q151_count_min_sketch_audit",
    "q152_k_anonymity_audit",
    "q154_decontamination_span_removal",
    "q155_m4_downsampling",
    "q156_reciprocal_rank_fusion",
    "q157_diversity_capped_topk",
    "q158_bigram_perplexity",
    "q160_mutual_information_screen",
    "q161_label_centroid_separation",
    "q163_zipf_law_audit",
    "q164_cross_source_duplication",
    "q165_ks_drift_per_source",
    "q166_referential_integrity",
    "q167_funnel_latency",
    "q168_ivf_balance_audit",
    "q169_embedding_quality_audit",
    "q170_encoding_audit",
    "q171_order_total_consistency",
    "q172_vocab_coverage_curve",
    "q173_seasonal_naive_backtest",
    "q174_psi_score_stability",
    "q175_association_rules",
    "q176_quantile_transform",
    "q177_ab_test_welch",
    "q178_lsh_recall_audit",
    "q179_component_size_distribution",
    "q181_hll_intersection_estimate",
    "q182_point_in_time_join",
    "q183_labeler_agreement_kappa",
]


def all_queries() -> dict[str, QuerySpec]:
    # Importing the package registers every query (once).
    from . import queries  # noqa: F401

    ordered = {
        name: _REGISTRY[name] for name in _DRIVER_ORDER if name in _REGISTRY
    }
    ordered.update(
        (name, spec) for name, spec in _REGISTRY.items() if name not in ordered
    )
    return ordered


def builders() -> dict[str, QueryBuilder]:
    return {name: spec.builder for name, spec in all_queries().items()}


def oracles() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_queries().items()
        if spec.oracle is not None
    }
