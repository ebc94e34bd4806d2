from .bucketing import bucketed_join, write_bucketed
from .dedup import (
    exact_duplicates,
    jaccard_similar_pairs,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from .joins import broadcast_left_join, left_semi_keys
from .quality import (
    DataQualityError,
    assert_many_to_one,
    assert_no_nulls,
    assert_unique_key,
    assert_values_in,
    expect_columns,
    null_audit,
)
from .similarity import ann_topk, brute_force_topk
from .skew import salted_aggregation, salted_join
from .temporal import asof_join, range_join_buckets
from .textstats import language_id, quality_scores, shingle_fingerprints, token_stats

__all__ = [
    "DataQualityError",
    "ann_topk",
    "asof_join",
    "assert_many_to_one",
    "assert_no_nulls",
    "assert_unique_key",
    "assert_values_in",
    "broadcast_left_join",
    "brute_force_topk",
    "bucketed_join",
    "exact_duplicates",
    "expect_columns",
    "jaccard_similar_pairs",
    "language_id",
    "left_semi_keys",
    "lsh_bands",
    "lsh_candidate_pairs",
    "minhash_signatures",
    "null_audit",
    "quality_scores",
    "range_join_buckets",
    "salted_aggregation",
    "salted_join",
    "shingle_fingerprints",
    "simhash",
    "token_stats",
    "write_bucketed",
]
