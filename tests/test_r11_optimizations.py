"""Focused pins for the r11 optimization internals.

These do not re-test query RESULTS (oracle parity and the family tests own
that); they pin the optimization MECHANISMS so a refactor cannot silently
undo them: the materialized-projection detector behind the upsert
checkpoint skip and the BLAS pin's idempotence.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bfs_etl_sep2025_spark.functions.blas import single_thread_blas
from bfs_etl_sep2025_spark.plans.versioned import _is_materialized_projection


def test_materialized_projection_detector(spark):
    df = spark.range(10).selectExpr("id AS k", "cast(id AS string) AS v")
    # a live lineage (Range + projections) must NOT be treated as
    # materialized — the upsert checkpoint must still happen
    assert not _is_materialized_projection(df)
    ck = df.localCheckpoint(eager=True)
    # a pure column projection over the checkpointed scan IS materialized:
    # re-evaluation is deterministic, the extra checkpoint would be a copy
    assert _is_materialized_projection(ck.select("k", "v"))
    assert _is_materialized_projection(ck)
    # anything beyond plain projection (a filter) drops back to False
    assert not _is_materialized_projection(ck.filter(F.col("k") > 3))


def test_single_thread_blas_idempotent():
    # callable repeatedly from any process state; after the first call the
    # thread-count env contract holds for late numpy imports
    single_thread_blas()
    single_thread_blas()
    assert os.environ.get("OPENBLAS_NUM_THREADS", "1") == "1"

