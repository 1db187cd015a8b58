from .determinism import det_rand, hash60, det_shuffle_key, cents, exact_avg, exact_sum_money
from .normalize import normalize_colname, option_letter, truncate_values

__all__ = [
    "det_rand",
    "hash60",
    "det_shuffle_key",
    "cents",
    "exact_avg",
    "exact_sum_money",
    "normalize_colname",
    "option_letter",
    "truncate_values",
]
