from .scalar import (
    angle_diff,
    boundary_distance,
    closing_speed,
    euclidean_distance,
    flip_angle,
    flip_coordinate,
    fround,
    piecewise_recovery_score,
    unit_vector,
)

__all__ = [
    "angle_diff",
    "boundary_distance",
    "closing_speed",
    "euclidean_distance",
    "flip_angle",
    "flip_coordinate",
    "fround",
    "piecewise_recovery_score",
    "unit_vector",
]
