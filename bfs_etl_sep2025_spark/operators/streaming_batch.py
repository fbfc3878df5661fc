"""Time-window aggregations — batch formulations of the streaming surface.

The reference's "streaming" is schedule-driven file arrival (one dated CSV
per daily run, ``dags/s3_data_copy_test.py:24-34``); true streams are the
Tier-C extension (SURVEY §2.5). Every window operator here uses the exact
function the Structured Streaming jobs use (``F.window`` /
``F.session_window`` work identically in batch), so the DuckDB oracle
validates the *semantics* once, and the streaming twin
(:mod:`bfs_etl_sep2025_spark.streaming.jobs`) reuses them with watermarks.

Scale notes (100 TB): time-window groupBy shuffles on (window, keys) — at
scale, pre-partition event storage by date so windows align with partition
pruning; in streaming the same aggs run incrementally with state eviction
by watermark instead of a full-history shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bfs_etl_sep2025_spark.functions.portable import exact_sum, sql_exact_sum
from bfs_etl_sep2025_spark.operators.dedup import SQL_SHINGLES, SQL_SIG
from bfs_etl_sep2025_spark.registry import query
from bfs_etl_sep2025_spark.tables import load

#: DuckDB: 10-minute tumbling bucket via integer epoch-ms arithmetic
#: (make_timestamp takes micros; all-integer math = engine-exact).
_BUCKET_10M = "make_timestamp((epoch_ms(ts) // 600000) * 600000000)"


@query(
    "stream_tumbling_window",
    family="streaming",
    bench=True,
    oracle=f"""
        SELECT {_BUCKET_10M} AS window_start,
               {_BUCKET_10M} + INTERVAL 10 MINUTE AS window_end,
               event_type,
               count(*) AS n_events,
               {sql_exact_sum('value', 2)} AS total_value
        FROM events
        GROUP BY 1, 2, 3
        ORDER BY window_start, event_type
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event type — the canonical streaming
    aggregate, run in batch so the oracle can check bucket alignment."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "stream_sliding_window",
    family="streaming",
    oracle="""
        WITH slid AS (
          SELECT e.*,
                 make_timestamp(((epoch_ms(ts) // 300000) - k.k) * 300000000)
                   AS window_start
          FROM events e, (SELECT unnest([0, 1]) AS k) k
        )
        SELECT window_start,
               window_start + INTERVAL 10 MINUTE AS window_end,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM slid
        GROUP BY 1, 2
        ORDER BY window_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in exactly two
    windows (the oracle reproduces that by exploding k in {0,1})."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "n_users",
        )
        .orderBy("window_start")
    )


@query(
    "stream_session_window",
    family="streaming",
    oracle="""
        WITH gaps AS (
          SELECT user_id, ts, event_id, value,
                 -- strictly > : measured Spark behavior MERGES an event at
                 -- exactly last+gap (see test_session_window_exact_gap_
                 -- boundary in tests/test_streaming.py, which pins this)
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                           > INTERVAL 30 MINUTE
                      OR lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
        ),
        sess AS (
          SELECT user_id, ts, value,
                 CAST(sum(new_session) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS session_no
          FROM gaps
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM sess
        GROUP BY user_id, session_no
        ORDER BY user_id, session_start
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.session_window(ts, 30 min)``: gap-merged sessions whose end is
    last-event + gap. The oracle derives identical sessions from first
    principles (lag + cumulative sum) — two independent formulations
    agreeing is the strongest check of the merge semantics."""
    ev = load(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy(sw.alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# True Structured Streaming runs (readStream -> AvailableNow -> memory sink).
# The returned DataFrame is the drained streaming result, so the oracle
# checks that the INCREMENTAL execution converges to the batch answer —
# the streaming-correctness property that matters.
# ---------------------------------------------------------------------------

import itertools  # noqa: E402
import os  # noqa: E402

from bfs_etl_sep2025_spark.session import scratch_dir  # noqa: E402

_run_ids = itertools.count()


def _drain(spark: SparkSession, df: DataFrame, mode: str) -> DataFrame:
    from bfs_etl_sep2025_spark.streaming.jobs import run_stream_to_memory

    name = f"stream_result_{next(_run_ids)}"
    ckpt = scratch_dir("bfs_stream_ckpt_")
    run_stream_to_memory(df, name, ckpt, output_mode=mode)
    return spark.table(name)


def _stage_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events fixture for streaming: the fixture stores
    TIMESTAMP(NANOS), which the streaming parquet reader cannot decode, so
    the batch loader (which normalizes to microsecond NTZ) rewrites it into
    a temp landing directory — incidentally also giving the file source a
    real directory to monitor."""
    staged = scratch_dir("bfs_stream_events_")
    load(spark, sf_dir, "events").coalesce(2).write.mode("overwrite").parquet(staged)
    return staged


@query(
    "stream_ingest_availablenow",
    family="streaming",
    oracle=f"""
        SELECT event_type,
               count(*) AS n_events,
               {sql_exact_sum('value', 2)} AS total_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def stream_ingest_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run: file-source micro-batches -> stateful aggregation
    -> complete-mode sink; must converge to the batch/oracle answer."""
    from bfs_etl_sep2025_spark.streaming.jobs import stream_events, stream_file_ingest

    src = _stage_events(spark, sf_dir)
    out = _drain(spark, stream_file_ingest(stream_events(spark, src)), "complete")
    return out.orderBy("event_type")


@query(
    "stream_static_join",
    family="streaming",
    oracle="""
        SELECT e.event_id, e.user_id, e.event_type, e.value,
               c.c_mktsegment AS segment
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        ORDER BY e.event_id
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-static join: the event micro-batch stream enriched with
    the static customer dimension must converge to the batch join."""
    from bfs_etl_sep2025_spark.streaming.jobs import (
        stream_events,
        stream_static_enrich,
    )

    src = _stage_events(spark, sf_dir)
    dim = load(spark, sf_dir, "customer")
    out = _drain(spark, stream_static_enrich(stream_events(spark, src), dim), "append")
    return out.orderBy("event_id")


@query(
    "stream_dedup_stateful",
    family="streaming",
    oracle="""
        SELECT count(*) AS n_unique, count(DISTINCT user_id) AS n_users
        FROM (SELECT DISTINCT event_id, ts, user_id FROM events)
    """,
)
def stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming dropDuplicates with watermark-bounded state; the
    drained output must carry exactly the distinct keys."""
    from bfs_etl_sep2025_spark.streaming.jobs import (
        stream_events,
        stream_stateful_dedup,
    )

    src = _stage_events(spark, sf_dir)
    out = _drain(spark, stream_stateful_dedup(stream_events(spark, src)), "append")
    return out.agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "stream_typed_state_profile",
    family="streaming",
    bench=True,
    oracle="""
        WITH counts AS (
          SELECT user_id, event_type, count(*) AS cnt
          FROM events WHERE event_type IS NOT NULL
          GROUP BY user_id, event_type
        ), ranked AS (
          SELECT user_id, event_type,
                 row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY cnt DESC, event_type DESC
                 ) AS rn
          FROM counts
        ), agg AS (
          SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(count(DISTINCT event_type) AS INT) AS n_types
          FROM events GROUP BY user_id
        )
        SELECT a.user_id, a.n_events, a.n_types, r.event_type AS top_type
        FROM agg a LEFT JOIN ranked r
          ON r.user_id IS NOT DISTINCT FROM a.user_id AND r.rn = 1
        ORDER BY a.user_id
    """,
)
def stream_typed_state_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful streaming run of the per-user profile
    (``streaming.jobs.stream_user_profile_tws``: one Update-mode
    aggregation holding count, value sum, type set and type counts in the
    state store), drained with AvailableNow into a memory sink. Update
    mode emits one profile row per (user, batch); the LAST update per user
    is the converged profile (n_events strictly increases whenever a user
    appears in a batch), which must equal the batch/oracle per-user
    aggregate — the stateful twin of ``stream_ingest_availablenow``'s
    convergence contract. NULL event types count as events but not as
    types; an all-NULL user has ``n_types = 0`` and a NULL ``top_type``.
    ``total_value`` (a float running sum whose addition order is the
    arrival order) is intentionally not part of the checked columns —
    cross-engine float policy (functions/portable.py).

    Scale notes: state shuffles by user_id once and runs on the session's
    state store provider (HDFS-backed or RocksDB); per-user state grows
    with that user's distinct event types."""
    from pyspark.sql import Window as W

    from bfs_etl_sep2025_spark.streaming.jobs import (
        stream_events,
        stream_user_profile_tws,
    )

    src = _stage_events(spark, sf_dir)
    out = _drain(
        spark, stream_user_profile_tws(stream_events(spark, src)), "update"
    )
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "n_types", "top_type")
        .orderBy("user_id")
    )


@query(
    "stream_lsh_dedup_gate",
    family="streaming",
    oracle=f"""
        WITH sh AS (
          SELECT doc_id, {SQL_SHINGLES} AS shingles FROM documents
        ),
        mh AS (SELECT doc_id, {SQL_SIG} AS sig FROM sh),
        bands AS (
          SELECT doc_id, b.b,
                 md5(sig[4*b.b+1]::VARCHAR || sig[4*b.b+2]::VARCHAR ||
                     sig[4*b.b+3]::VARCHAR || sig[4*b.b+4]::VARCHAR) AS bh
          FROM mh, (SELECT unnest([0,1,2,3]) AS b) b
        ),
        hits AS (
          SELECT DISTINCT l.doc_id
          FROM bands l JOIN bands r ON l.b = r.b AND l.bh = r.bh
                                   AND r.doc_id < l.doc_id
        )
        SELECT d.doc_id, (h.doc_id IS NOT NULL) AS near_dup
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        ORDER BY d.doc_id
    """,
)
def stream_lsh_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup candidate gate (the streaming/LLM-ops
    crossover): per-document LSH band rows stream through
    ``applyInPandasWithState`` keyed by band bucket, whose state is ONE
    BIGINT (smallest doc_id seen); a doc is flagged iff any bucket already
    holds a smaller id. The job's retroactive-flip emission makes
    ``bool_or(dup)`` per doc invariant to arrival order and batching, so
    the drained stream must converge to the batch rule
    "exists a smaller doc_id sharing a band" — the recall-first gate in
    front of exact reranking (``dedup_minhash_lsh_pairs`` scores the
    survivors' pairs; this gate never computes a value, so LSH recall is
    the only thing at stake and the oracle checks it exactly.)

    Scale notes: band rows are computed batch-side (the same shingle
    pipeline the batch queries use) and staged as the landing files a
    crawler would drop; streaming state is 8 bytes/bucket, shuffled once
    by bucket, on the session's state store provider (HDFS-backed or
    RocksDB); the final verdict aggregate runs batch-side on the drained
    updates."""
    from bfs_etl_sep2025_spark.operators.incremental import (
        fingerprint_batch,
    )
    from bfs_etl_sep2025_spark.streaming.jobs import stream_lsh_band_dedup

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    bands = fingerprint_batch(d).select(
        "doc_id", F.posexplode("bands").alias("b", "bh")
    ).select(
        F.concat(F.col("b").cast("string"), F.lit(":"), "bh").alias(
            "bucket"
        ),
        "doc_id",
    )
    staged = scratch_dir("bfs_stream_bands_")
    bands.coalesce(2).write.mode("overwrite").parquet(staged)
    stream = spark.readStream.schema("bucket string, doc_id bigint").parquet(
        staged
    )
    out = _drain(spark, stream_lsh_band_dedup(stream), "update")
    verdicts = out.groupBy("doc_id").agg(F.max("dup").alias("near_dup"))
    return (
        d.select("doc_id")
        .join(verdicts, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("near_dup", F.lit(False)).alias("near_dup")
        )
        .orderBy("doc_id")
    )
