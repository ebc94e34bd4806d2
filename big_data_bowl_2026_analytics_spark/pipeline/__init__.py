from .analytics import defender_quadrants, extreme_plays, receiver_rankings
from .cleaning import (
    clean_plays,
    clean_tracking,
    create_players_dim,
    filter_plays_with_tracking,
    player_plays,
)
from .features import build_features, train_test_split_by_week
from .run import PipelineResult, run_pipeline
from .scores import compute_scores

__all__ = [
    "PipelineResult",
    "build_features",
    "clean_plays",
    "clean_tracking",
    "compute_scores",
    "create_players_dim",
    "defender_quadrants",
    "extreme_plays",
    "filter_plays_with_tracking",
    "player_plays",
    "receiver_rankings",
    "run_pipeline",
    "train_test_split_by_week",
]
