"""Ingestion sources: bulk CSV COPY-INTO semantics with a load ledger."""

from bfs_etl_sep2025_spark.sources.csv_copy import (
    CsvCopyTask,
    ledger,
    map_file_format,
    parse_file_format_clause,
)

__all__ = [
    "CsvCopyTask",
    "ledger",
    "map_file_format",
    "parse_file_format_clause",
]
