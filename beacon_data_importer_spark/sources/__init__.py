from .csv import read_csv_stringly
from .jsonl import read_jsonl, read_orc, write_jsonl, write_orc
from .parquet import read_table

__all__ = [
    "read_csv_stringly",
    "read_jsonl",
    "write_jsonl",
    "read_orc",
    "write_orc",
    "read_table",
]
