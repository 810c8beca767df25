from .blocking import build_blocks, cap_hot_blocks
from .pairs import candidate_pairs, weighted_candidate_pairs
from .scoring import (distance_from_similarity, osa_similarity,
                      osa_similarity2, score_pairs, similarity_from_distance)
from .clustering import connected_components
from .incremental import assign_new_records, standing_index
from .snm import snm_candidate_pairs, sorted_ranks
from .compound import compound_correct, segment_texts
from .dictionary import aggregate_word_counts, parse_dictionary_lines
from .lookup import distributed_lookup
from .similarity import brute_force_topk, lsh_bucketed_topk, lsh_buckets
from .skew import salted_join

__all__ = [
    "build_blocks",
    "cap_hot_blocks",
    "candidate_pairs",
    "weighted_candidate_pairs",
    "score_pairs",
    "osa_similarity",
    "osa_similarity2",
    "similarity_from_distance",
    "distance_from_similarity",
    "connected_components",
    "assign_new_records",
    "standing_index",
    "snm_candidate_pairs",
    "sorted_ranks",
    "compound_correct",
    "segment_texts",
    "aggregate_word_counts",
    "parse_dictionary_lines",
    "distributed_lookup",
    "brute_force_topk",
    "lsh_bucketed_topk",
    "lsh_buckets",
    "salted_join",
]
