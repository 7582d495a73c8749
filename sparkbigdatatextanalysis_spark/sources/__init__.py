from .catalog_csv import read_catalog_csv, read_gold_pairs_csv

__all__ = [
    "read_catalog_csv",
    "read_gold_pairs_csv",
]
