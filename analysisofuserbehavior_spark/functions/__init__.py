from .core import (
    between_count,
    cents_sum,
    qround,
    csv_set_agg,
    day_col,
    hour_col,
    json_long,
    md5_prefix32,
    ratio,
)

__all__ = [
    "between_count",
    "cents_sum",
    "qround",
    "csv_set_agg",
    "day_col",
    "hour_col",
    "json_long",
    "md5_prefix32",
    "ratio",
]
