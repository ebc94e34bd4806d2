from .readers import read_csv, read_jsonl, read_table, register_views
from .writers import (
    write_bucketed,
    write_csv,
    write_jsonl,
    write_orc,
    write_parquet,
)

__all__ = [
    "read_table",
    "register_views",
    "read_csv",
    "read_jsonl",
    "write_parquet",
    "write_csv",
    "write_jsonl",
    "write_orc",
    "write_bucketed",
]
