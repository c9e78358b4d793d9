"""vectordb_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference document→vector ETL system
(gudwls215/vectordb-etl, surveyed in SURVEY.md).

Design stance (SURVEY.md §7.1): DataFrame/SQL-first. Everything that is
SQL-expressible is a Column expression (oracle-checkable against DuckDB);
Python appears only inside a small set of pandas UDFs (recursive chunker,
HTML/HWP parsers, pluggable embedders).
"""

from vectordb_etl_spark.config import (
    ChunkerConfig,
    EmbeddingConfig,
    PipelineConfig,
    StoreConfig,
)
from vectordb_etl_spark.session import _reuse_unchanged_zip_directories, get_spark

# Runs in every Python worker that unpickles one of the package's UDFs.
_reuse_unchanged_zip_directories()

__all__ = [
    "ChunkerConfig",
    "EmbeddingConfig",
    "PipelineConfig",
    "StoreConfig",
    "get_spark",
]

__version__ = "0.1.0"
