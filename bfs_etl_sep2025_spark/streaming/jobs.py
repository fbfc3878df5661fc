"""Structured Streaming jobs.

The reference's incremental model is file-per-logical-date arrival loaded by
a scheduled task (``dags/s3_data_copy_test.py:24-34``). Its native streaming
analog is the file stream source: each newly-arrived file is one micro-batch
— same data, push instead of pull. On top of that, the Tier-C streaming
surface (SURVEY §2.5): windowed aggregation with watermarks, and stateful
deduplication (the streaming twin of the ingest ledger's file-level skip).

Every job is expressed as readStream -> transformations -> caller-chosen
sink. ``Trigger.AvailableNow`` drains whatever is present and stops, which
gives deterministic, oracle-checkable runs in batch tests while remaining a
genuine incremental execution (state, watermarks and checkpoints all
engage; a second invocation with the same checkpoint resumes, skipping
processed files — exactly the ledger semantics, but engine-managed).

Scale notes (100 TB/day ingest): the file source tracks seen-files in the
checkpoint (compacted); state stores are per-key and evicted by watermark —
unbounded keys need the watermark or state grows forever. maxFilesPerTrigger
bounds micro-batch size; sinks should be ``foreachBatch`` into a
transactional table for exactly-once.

State note: a stateful stream whose state fits built-in aggregates uses
them (:func:`stream_user_profile_tws`, :func:`stream_running_user_totals`):
no Python worker per micro-batch. Logic that aggregates cannot express
goes through ``applyInPandasWithState`` (the LSH near-dup gate
:func:`stream_lsh_band_dedup`): each key's state is one tuple that
travels inline with the key's Arrow batch, so there is no state server to
call and no pre-init worker at query start, and both state stores
(HDFS-backed, RocksDB) run it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the events fixture schema, as a streaming source requires an explicit one
EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def stream_events(spark: SparkSession, source: str) -> DataFrame:
    """File-stream over the parquet event files in the directory
    ``source`` (schema mandatory on streams; the file source monitors a
    directory, not a file)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one file = one micro-batch
        .parquet(source)
    )


def stream_file_ingest(events: DataFrame) -> DataFrame:
    """Micro-batch ingestion: per-event-type running counts — the streaming
    equivalent of the CsvCopyTask append plus a summary."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,2)")).cast("double").alias("total_value"),
    )


def stream_windowed_counts(
    events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window counts with a watermark: state for windows older than
    the watermark is finalized and evicted; events arriving later than the
    watermark are dropped (late-data policy under test)."""
    # Watermarks demand TIMESTAMP (not NTZ); under the engine's pinned UTC
    # session TZ the cast is wall-time-identity.
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def stream_stateful_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once-per-key: dropDuplicates over event_id with a
    watermark bounding the dedup state (keys older than the watermark age
    out — the engine-managed version of the ingest ledger)."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicates(["event_id", "ts"])
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a static dimension
    (per micro-batch hash join; the dim is re-resolved each batch, so a
    refreshed dim table is picked up without restarting the stream). The
    canonical pattern for attaching slowly-changing reference data to a
    100 TB/day event feed — broadcast the dim, never shuffle the stream."""
    from pyspark.sql.functions import broadcast

    return events.join(broadcast(dim), events.user_id == dim.c_custkey, "left").select(
        events.event_id,
        events.user_id,
        events.event_type,
        events.value,
        dim.c_mktsegment.alias("segment"),
    )


def stream_running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running ``(n_events, total_value)`` that accumulates across
    micro-batches in the state store: one built-in aggregation, run in
    Update mode, so each batch emits the updated totals of the users it
    touched and no Python worker runs. ``coalesce(sum(value), 0.0)`` skips
    NULL values and reads 0.0 for a user with none. Checkpoints written by
    the earlier ``applyInPandasWithState`` version of this job cannot be
    resumed: Spark rejects the changed state schema.

    Scale notes: state is one row per user, shuffled by user_id after a
    partial aggregation per batch. It has no window bound and nothing
    evicts it, so an unbounded key space grows it forever.
    """
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(F.sum("value"), F.lit(0.0)).alias("total_value"),
    )


def run_stream_to_memory(
    df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Drain all available input into an in-memory table (test/inspection
    sink), synchronously. Real deployments swap this for foreachBatch into
    a table — the transformation DataFrame is sink-agnostic."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_collect(
    df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> list[tuple[int, list]]:
    """Drain all available input through a ``foreachBatch`` sink, returning
    ``[(epoch_id, rows), ...]`` per micro-batch. Unlike the memory sink this
    supports checkpoint RECOVERY, so repeated invocations with the same
    checkpoint resume — processed files are skipped (the pattern production
    jobs use with a transactional write inside the batch function)."""
    batches: list[tuple[int, list]] = []

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batches.append((epoch_id, batch_df.collect()))

    q = (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches


def stream_interval_join(
    clicks: DataFrame, purchases: DataFrame, max_gap: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream inner join: purchases matched to the same
    user's click within ``(click_ts, click_ts + max_gap]``.

    Both inputs are event streams; each gets a watermark and the join
    condition bounds purchase time relative to click time, which is what
    lets Structured Streaming EXPIRE buffered rows — without the range
    bound (or the watermarks) both state stores grow forever. The batch
    twin (identical plan minus state) is
    ``operators/funnel.py::stream_stream_interval_join``.
    """
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").cast("timestamp").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")


def run_stream_merge_upsert(
    df: DataFrame,
    target: str,
    merge_sql: str,
    checkpoint_dir: str,
    source_view: str = "batch_source",
    prepare=None,
) -> None:
    """Drain all available input, MERGE-upserting each micro-batch into a
    catalog table — the canonical CDC-to-table sink the reference's
    COPY-then-warehouse-MERGE loads imply (``plans/merge.py`` executes the
    statement against the plain-parquet catalog; on Delta/Iceberg the same
    statement runs natively).

    Per micro-batch: ``prepare(batch_df)`` (default: identity) collapses
    the batch to at most one row per merge key — REQUIRED, since MERGE
    raises on duplicate source matches — the result is registered as
    ``source_view``, and ``merge_sql`` (which must read ``USING
    <source_view>``) executes. Checkpoint recovery makes re-runs skip
    processed files, and a replayed batch of the same keys converges via
    the MATCHED branch instead of duplicating — idempotent upserts, the
    exactly-once-style sink pattern.

    Scale notes: each micro-batch costs the MERGE's one join over the
    target snapshot (the no-transactional-format price; see
    ``plans/merge.py``); the stream's own state is file-tracking only.
    ``target`` is taken for lock serialization via the statement head, so
    concurrent same-table writers queue (``plans/locks.py``).
    """
    from bfs_etl_sep2025_spark.plans.merge import run_merge

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        src = prepare(batch_df) if prepare is not None else batch_df
        src.createOrReplaceTempView(source_view)
        run_merge(batch_df.sparkSession, merge_sql)

    q = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the MERGEs ran (and refreshed) on foreachBatch's CLONED session; the
    # caller's session still caches the pre-stream file listing for the
    # target and would chase deleted part files on its next read
    df.sparkSession.catalog.refreshTable(target)


def run_stream_profile_monitor(
    df: DataFrame,
    metrics_table,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "value",
    gate=None,
) -> None:
    """Streaming observability sink: per micro-batch, collapse the batch to
    one profile row per ``group_col`` (count, exact DECIMAL value sum, null
    count, epoch id) and APPEND it to a ``VersionedTable`` metrics store —
    the micro-batch twin of ``examples/drift_monitor_pipeline.py``'s
    scheduled snapshots, sharing its versioned metrics-layer shape.

    ``gate(profile_rows)`` (optional) sees each batch's collected profile
    rows BEFORE the append and may raise — the raise fails the streaming
    query, i.e. a monitoring circuit-breaker: a poisoned upstream batch
    halts ingestion instead of polluting the store. Empty batches are
    skipped (no empty snapshot versions).

    Scale: the profile is a conditional aggregate over the micro-batch
    (map-combined, O(groups) output); the append is O(profile rows),
    never a rewrite; checkpoint recovery skips processed files so re-runs
    don't double-append."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        prof = batch_df.groupBy(group_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.col(value_col).cast("decimal(38,2)")), F.lit(0)
            )
            .cast("double")
            .alias("value_sum"),
            F.sum(F.col(value_col).isNull().cast("int"))
            .cast("bigint")
            .alias("n_nulls"),
        ).withColumn("epoch_id", F.lit(epoch_id).cast("bigint"))
        rows = prof.collect()
        if gate is not None:
            gate(rows)
        batch_out = prof.sparkSession.createDataFrame(rows, prof.schema)
        if metrics_table.exists():
            metrics_table.append(batch_out)
        else:
            metrics_table.create(batch_out)

    q = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_user_profile_tws(events: DataFrame) -> DataFrame:
    """Per-user running profile as ONE built-in Update-mode streaming
    aggregation: running event count, running value sum, distinct-type
    count and the current top type (ties broken by the larger name — the
    ``mode() WITHIN GROUP (ORDER BY event_type DESC)`` rule). Each
    micro-batch emits one row per user touched in that batch, carrying the
    profile accumulated over every batch so far.

    NULL ``event_type``: counts in ``n_events`` but in neither ``n_types``
    nor ``top_type`` (``collect_set`` and ``mode`` skip NULLs); a user
    whose events are all NULL-typed gets ``n_types = 0`` and a NULL
    ``top_type``. ``total_value`` is a float running sum in arrival order
    (NULL while every value seen is NULL) and is not cross-engine exact.

    Why not a Python state handler: the aggregate buffers hold the same
    state a ValueState + MapState handler would (count, sum, the type set
    and a type→count map) inside the JVM operator, so a round pays no
    Python pre-init worker at query start, no per-key pandas frames and no
    state-server round trips. It runs on the HDFS-backed and the RocksDB
    state store alike. A Python state handler stays for logic aggregates
    cannot express (:func:`stream_lsh_band_dedup`).

    Scale notes: state is per user, shuffled once by user_id, and has no
    eviction (no watermark). Each user's buffer grows with the number of
    distinct event types that user has sent — the type set and the count
    map are re-serialized on every update — so a high-cardinality type
    column needs bucketing before it reaches this operator. Checkpoints
    written by the earlier typed-state version of this operator cannot be
    resumed (Spark rejects the changed state schema).
    """
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
        F.size(F.collect_set("event_type")).cast("int").alias("n_types"),
        F.expr("mode() WITHIN GROUP (ORDER BY event_type DESC)").alias("top_type"),
    )


def stream_lsh_band_dedup(band_rows: DataFrame) -> DataFrame:
    """Streaming NEAR-dup gate over LSH band buckets, through
    ``applyInPandasWithState``: the input stream carries one
    ``(bucket, doc_id)`` row per (document, minhash band); state per
    bucket is ONE BIGINT — the smallest doc_id ever seen there — and a
    document is flagged the moment any of its buckets already holds a
    smaller id. Emissions are ORDER- AND BATCHING-INVARIANT: if a smaller
    id arrives later, the previous minimum (the only stored doc that was
    not already flagged) is retroactively re-emitted as a duplicate, so
    ``bool_or(dup)`` per doc over the update stream converges to exactly
    "exists a smaller doc_id sharing a band" under ANY arrival order —
    which is what lets a relational oracle pin a streaming operator.

    Scale notes: this is the recall-first candidate gate of a streaming
    ingest (exact rerank happens offline over flagged pairs —
    ``dedup_minhash_lsh_pairs`` semantics); state is 8 bytes per distinct
    band bucket regardless of corpus size, shuffled once by bucket, and
    travels inline with each bucket's Arrow batch (no state server); each
    flip emission is bounded by the number of strict min decreases, so
    output rows <= input rows x 2. Runs on the HDFS-backed and the
    RocksDB state store alike. Checkpoints written by the earlier
    typed-state version of this operator cannot be resumed (Spark rejects
    the changed stateful operator)."""
    import pandas as pd  # imported lazily: executors pickle this closure

    def gate(key, pdfs, state):
        ids = pd.concat([pdf["doc_id"] for pdf in pdfs], ignore_index=True)
        old = state.get[0] if state.exists else None
        new_min = int(ids.min()) if old is None else min(old, int(ids.min()))
        out = pd.DataFrame({"doc_id": ids, "dup": ids > new_min})
        if old is not None and old > new_min:
            # the previous minimum was the bucket's only unflagged doc —
            # retroactively flip it (order invariance)
            out = pd.concat(
                [out, pd.DataFrame({"doc_id": [old], "dup": [True]})],
                ignore_index=True,
            )
        state.update((new_min,))
        yield out

    return band_rows.groupBy("bucket").applyInPandasWithState(
        gate,
        outputStructType="doc_id bigint, dup boolean",
        stateStructType="min_doc bigint",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
