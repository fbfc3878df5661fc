"""Fixture-table catalog.

The reference's only queryable abstraction is the warehouse-cataloged table
(``dags/dev_db_test.py:13-18``). Here the catalog is a directory of parquet
files (one per table — /root/repo/TESTDATA.md); this module is the single
loader so that scans stay uniform (explicit paths, no schema inference
surprises) and every query benefits from parquet pushdown/pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Columnar parquet scan: Catalyst pushes filters
    and prunes columns below this automatically.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) in some fixture
    generations and TIMESTAMP(MICROS) in others, so the loader normalizes by
    the dtype it actually reads: a NANOS column is read as raw nanos
    (``nanosAsLong``) and floor-truncated to a microsecond ``timestamp_ntz``
    — exactly what DuckDB's reader does implicitly — while a MICROS column
    is already the canonical µs NTZ and passes through untouched. Either
    way every consumer sees the same µs-NTZ ``ts``.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type in ("bigint", "long"):
            return df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return spark.read.parquet(path)


def widen(df: DataFrame) -> DataFrame:
    """Raise a narrow scan's parallelism to the session's core count before
    heavy per-row compute (md5-per-shingle, per-token hashing, ...).

    Why: a small fixture ships as ONE parquet file with one row group, and a
    parquet split only yields the row groups whose midpoint falls inside it —
    so no matter how Spark slices the file, the whole scan lands on a single
    task and the expensive projection above it runs 1-of-N cores. This helper
    repartitions *up* only when the scan's current parallelism is below
    ``defaultParallelism``; on a real cluster (thousands of input splits) the
    guard makes it a no-op, so nothing extra shuffles at 100 TB, while
    locally it costs one round-robin shuffle of the raw rows (~MBs) to light
    up all cores. AQE never coalesces an explicit-numPartitions repartition,
    so the width sticks through the compute stage.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
