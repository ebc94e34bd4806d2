from .deception import deception_score, pelt_l2

__all__ = ["deception_score", "pelt_l2"]
