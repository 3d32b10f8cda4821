"""Bronze-layer ingestion: CSV seeds with type inference, parquet readers."""

from .seeds import infer_seed_schema, read_seed_csv, seed_to_parquet
from .readers import read_table, TESTDATA_TABLES

__all__ = [
    "infer_seed_schema",
    "read_seed_csv",
    "seed_to_parquet",
    "read_table",
    "TESTDATA_TABLES",
]
