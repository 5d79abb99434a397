from .asof import asof_join
from .blocking import blocked_pairs, estimate_pair_stats
from .dedup import keep_best, max_per_group_with_ties
from .gamma import Comparison, ComparisonLevel, add_gammas
from .joins import anti_join, semi_join, validated_one_to_one_join
from .profile import profile_table
from .scoring import LinkageModel, score_pairs

__all__ = [
    "asof_join",
    "blocked_pairs",
    "estimate_pair_stats",
    "keep_best",
    "max_per_group_with_ties",
    "Comparison",
    "ComparisonLevel",
    "add_gammas",
    "anti_join",
    "semi_join",
    "validated_one_to_one_join",
    "profile_table",
    "LinkageModel",
    "score_pairs",
]
