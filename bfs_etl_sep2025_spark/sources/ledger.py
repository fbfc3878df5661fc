"""Load ledger: file-level ingestion idempotence.

Snowflake's ``COPY INTO`` silently skips files already recorded in its load
history; the reference *depends* on that — its ingestion DAG backfills with
``catchup=True`` (``dags/s3_data_copy_test.py:29``), so any re-run would
double-load without it. Spark has no such history, so the engine keeps a
tiny parquet ledger ``(table_name, file_name, loaded_at)`` (SURVEY §4.3).

Scale notes: the ledger grows by one row per (table, file) — even at 100 TB
ingested that is thousands of rows, read once per task as a broadcast-sized
side input. Concurrent writers to ONE table's ledger would race on
parquet append; production deployments should point this at a transactional
table format (Delta/Iceberg — jars not in this image) or partition the
ledger per table; per-pipeline sequential backfill (the reference's model)
is race-free as-is.
"""

from __future__ import annotations

from datetime import datetime
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_SCHEMA = "table_name string, file_name string, loaded_at timestamp_ntz"


class LoadLedger:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def _read(self):
        """The ledger rows. A missing path means nothing was loaded yet;
        any other failure raises — reading an unreadable ledger as empty
        would make COPY reload every file."""
        from pyspark.errors import AnalysisException

        try:
            return self.spark.read.schema(_SCHEMA).parquet(self.path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return self.spark.createDataFrame([], _SCHEMA)

    def loaded_files(self, table: str) -> set[str]:
        from pyspark.sql import functions as F

        rows = (
            self._read()
            .filter(F.col("table_name") == table)
            .select("file_name")
            .collect()
        )
        return {r.file_name for r in rows}

    def record(self, table: str, files: list[str], loaded_at: datetime) -> None:
        if not files:
            return
        df = self.spark.createDataFrame(
            [(table, f, loaded_at) for f in files], _SCHEMA
        )
        df.write.mode("append").parquet(self.path)
