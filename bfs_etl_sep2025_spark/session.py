"""SparkSession factory.

The reference resolves its execution context (warehouse, database, schema, role)
at runtime from a named connection (``dags/dev_db_test.py:12-18,35`` — conn id
``snowflake_conn`` plus per-DAG overrides). The Spark-native equivalent of that
"session context" is a configured ``SparkSession``; this module is the single
place it is built so every query/test/bench runs under identical semantics:

- UTC session timezone — the reference's audit column is ``load_utc_ts`` and
  ``sysdate()`` is UTC (``dags/dev_db_test.sql:1,3``); it also makes Spark
  timestamps comparable with the DuckDB oracle's naive-UTC timestamps.
- AQE on (runtime join-strategy switch, skew splitting, partition coalescing):
  at 100 TB the static plan is never right; AQE re-plans from real map-output
  statistics.
- ANSI on, pinned explicitly: Spark 4.x defaults to ANSI and DuckDB is
  ANSI-strict, so overflow/cast errors surface identically in engine and
  oracle instead of silently diverging; pinning keeps behavior stable
  across Spark versions.
- Arrow on for any pandas-UDF path (vectorized transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Per-process scratch root for operator-local stores (incremental-dedup
#: signature stores, IVF postings, stream staging). ADVICE r10: bare
#: ``tempfile.mkdtemp`` dirs holding multi-version VersionedTable copies were
#: never cleaned, so repeated driver/bench runs accumulated unbounded disk —
#: everything now nests under ONE root removed at interpreter exit.
_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir under the session's scratch root (cleaned at exit)."""
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="bfs_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _host_cpus() -> str:
    """Cores this process may run on (its affinity mask, not the machine's
    count), the default for ``SPARK_GRAFT_CPUS``."""
    return str(len(os.sched_getaffinity(0)))


def _host_driver_memory() -> str:
    """Default ``spark.driver.memory``: three quarters of physical RAM, so
    the heap never claims more than the host has."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram * 3 // 4 >> 30)}g"


#: Shuffle parallelism. Local tests run tiny data where 200 (the Spark default)
#: would create mostly-empty tasks; on a real cluster the AQE advisory target
#: (64 MiB post-shuffle partitions) re-coalesces whatever initial number we
#: pick, so a cores-sized default is right in both worlds.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus())


def build_spark(
    app_name: str = "bfs_etl_sep2025_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    One long-lived session is intended per process (driver contract and bench
    both reuse it); ``getOrCreate`` makes repeated calls cheap.
    """
    # protobuf fallback must be on PYTHONPATH BEFORE the JVM launches:
    # Spark's Python workers inherit the JVM env, which inherits ours —
    # this makes transformWithStateInPandas's state-server protocol work
    # in containers without google.protobuf (vendor/protoshim).
    from bfs_etl_sep2025_spark.vendor import ensure_protobuf

    ensure_protobuf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # --- determinism / oracle comparability -------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        # --- scan splitting ---------------------------------------------
        # 8 MiB split target (vs the 128 MiB default): local fixtures are
        # tens-of-MB single files, and the default hands a whole file (and
        # its multi-row-group parallelism) to ONE task while 31 cores idle.
        # On a real cluster reading 100 TB the split target should ride the
        # row-group size back up — override via SPARK_GRAFT_MAX_PARTITION_BYTES
        # (this is the standard knob the brief calls out for sizing
        # partitions to executor memory; smaller splits also bound scan-task
        # skew, AQE re-coalesces the tiny tails).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        # --- adaptive execution: the 100 TB safety net ------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- python<->jvm data path -------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- local-mode hygiene ------------------------------------------
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
