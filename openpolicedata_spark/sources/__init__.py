"""Pluggable dataset loaders (reference: data_loaders/).

File-backed formats use native Spark readers (Catalyst handles predicate
pushdown / column pruning / partition planning); REST portals are PySpark
Python DataSources whose planning phase reproduces the reference's WHERE
construction and paging, upgraded from serial paging to partition-parallel
fetch (SURVEY.md §4)."""

from openpolicedata_spark.sources.base import (
    DataLoader,
    clean_date_input,
)
from openpolicedata_spark.sources.file import CsvLoader, ParquetLoader
from openpolicedata_spark.sources.combined import CombinedLoader

__all__ = [
    "DataLoader",
    "clean_date_input",
    "CsvLoader",
    "ParquetLoader",
    "CombinedLoader",
]
