"""Structured Streaming semantics that only show up across micro-batches:
watermark late-data drops, checkpoint resume (file-level idempotence), and
incremental-vs-batch convergence."""

from __future__ import annotations

import pytest

from bfs_etl_sep2025_spark.streaming.jobs import (
    run_stream_collect,
    stream_stateful_dedup,
    stream_windowed_counts,
)

#: slow tier (r12): tests that drain real structured-streaming queries are
#: marked one by one; the small NULL-type profile test runs in the default tier
slow = pytest.mark.slow

SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _rows(ts_ids):
    from datetime import datetime

    return [
        (i, datetime(2024, 1, 1, h, m), 1, "click", 1.0, "{}")
        for i, (h, m) in ts_ids
    ]


@pytest.fixture()
def stream_env(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    return spark, src, ckpt


def _read_stream(spark, src):
    return (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )


@slow
def test_watermark_drops_late_events(stream_env):
    """A run advances the watermark; a later-arriving event older than the
    watermark must be dropped from the aggregation (the late-data policy
    SURVEY §2.5 requires us to document and enforce)."""
    spark, src, ckpt = stream_env
    # run 1: events at 10:00 and 12:00 -> watermark lands at 12:00-30min=11:30
    _write_batch(spark, src, _rows([(1, (10, 0)), (2, (12, 0))]))
    agg = stream_windowed_counts(
        _read_stream(spark, src), window="10 minutes", watermark="30 minutes"
    )
    b1 = run_stream_collect(agg, ckpt, output_mode="append")
    # run 2: one on-time event (12:05) and one LATE event (10:05 < 11:30)
    _write_batch(spark, src, _rows([(3, (12, 5)), (4, (10, 5))]))
    b2 = run_stream_collect(agg, ckpt, output_mode="append")
    # run 3: push the watermark past everything so 12:00 windows finalize
    _write_batch(spark, src, _rows([(5, (14, 0))]))
    b3 = run_stream_collect(agg, ckpt, output_mode="append")

    merged: dict[tuple[int, int], int] = {}
    for batches in (b1, b2, b3):
        for _, rows in batches:
            for r in rows:
                k = (r.window_start.hour, r.window_start.minute)
                merged[k] = merged.get(k, 0) + r.n_events
    assert merged[(10, 0)] == 1  # late event 4 dropped; only event 1 counted
    assert merged[(12, 0)] == 2  # events 2 and 3


@slow
def test_checkpoint_skips_processed_files(stream_env):
    """Re-running with the same checkpoint must not re-ingest old files —
    the engine-managed twin of the CsvCopyTask ledger."""
    spark, src, ckpt = stream_env
    _write_batch(spark, src, _rows([(1, (10, 0)), (2, (10, 1))]))
    dedup = stream_stateful_dedup(_read_stream(spark, src), watermark="1 hour")
    b1 = run_stream_collect(dedup, ckpt, output_mode="append")
    assert sum(len(rows) for _, rows in b1) == 2
    # second invocation, same checkpoint, no new files -> nothing new
    b2 = run_stream_collect(dedup, ckpt, output_mode="append")
    assert sum(len(rows) for _, rows in b2) == 0
    # new file with one duplicate key (event_id=2, same ts) + one new event
    _write_batch(spark, src, _rows([(2, (10, 1)), (3, (10, 2))]))
    b3 = run_stream_collect(dedup, ckpt, output_mode="append")
    got = {r.event_id for _, rows in b3 for r in rows}
    assert got == {3}  # duplicate suppressed by state, new event passes


@slow
def test_stateful_running_totals_across_batches(stream_env):
    """Built-in Update-mode aggregation: per-user state must ACCUMULATE across
    micro-batches (file 1 then file 2), emitting updated running totals."""
    from bfs_etl_sep2025_spark.streaming.jobs import stream_running_user_totals

    spark, src, ckpt = stream_env
    _write_batch(spark, src, _rows([(1, (10, 0)), (2, (10, 5))]))  # user 1 x2
    _write_batch(spark, src, _rows([(3, (11, 0))]))  # user 1 x1, second file
    job = stream_running_user_totals(_read_stream(spark, src))
    batches = run_stream_collect(job, ckpt, output_mode="update")
    per_batch = [
        {(r.user_id): (r.n_events, r.total_value) for r in rows}
        for _, rows in batches
        if rows
    ]
    assert len(per_batch) == 2  # one emission per micro-batch (one per file)
    assert per_batch[0][1] == (2, 2.0)  # after file 1: 2 events
    assert per_batch[1][1] == (3, 3.0)  # state carried: 2+1 events
    # resume from checkpoint with a new file: state survives the restart
    _write_batch(spark, src, _rows([(4, (12, 0))]))
    more = run_stream_collect(job, ckpt, output_mode="update")
    got = {r.user_id: (r.n_events, r.total_value) for _, rows in more for r in rows}
    assert got[1] == (4, 4.0)


@slow
def test_incremental_converges_to_batch(stream_env):
    """Multi-micro-batch streaming aggregation == one-shot batch answer."""
    from pyspark.sql import functions as F

    from bfs_etl_sep2025_spark.streaming.jobs import stream_file_ingest

    spark, src, ckpt = stream_env
    _write_batch(spark, src, _rows([(1, (10, 0)), (2, (10, 5))]))
    _write_batch(spark, src, _rows([(3, (11, 0))]))  # second file/micro-batch
    agg = stream_file_ingest(_read_stream(spark, src))
    batches = run_stream_collect(agg, ckpt, output_mode="complete")
    final = {(r.event_type, r.n_events) for r in batches[-1][1]}
    batch = (
        spark.read.schema(SCHEMA)
        .parquet(src)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    assert final == {(r.event_type, r.n_events) for r in batch}


@slow
def test_session_window_exact_gap_boundary(spark):
    """Two events EXACTLY 30 minutes apart MERGE into one session: Spark's
    session window accepts an event at precisely last+gap (measured here,
    not assumed — ADVICE r01 claimed the opposite; this pins the boundary
    the stream_session_window oracle mirrors with its strict
    ``> INTERVAL 30 MINUTE`` new-session condition)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:30:00"),  # exactly gap later -> merges
            (2, "2024-01-01 00:00:00"),
            (2, "2024-01-01 00:30:01"),  # past the gap -> new session
        ],
        "user_id int, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "n")
        .orderBy("user_id", "n")
        .collect()
    )
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r.n)
    assert per_user[1] == [2]  # merged at the exact boundary
    assert per_user[2] == [1, 1]  # split one second past it


@slow
def test_stream_stream_interval_join(stream_env):
    """Real two-readStream watermarked interval join: purchases pair with
    the same user's click within 1h; a purchase 90 minutes out must NOT
    match. Result must equal the batch formulation on identical data."""
    from datetime import datetime

    spark, src, ckpt = stream_env
    rows = [
        # user 1: click 10:00; purchases 10:30 (in) and 11:30 (out of 1h)
        (1, datetime(2024, 1, 1, 10, 0), 1, "click", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 10, 30), 1, "purchase", 5.0, "{}"),
        (3, datetime(2024, 1, 1, 11, 30), 1, "purchase", 7.0, "{}"),
        # user 2: purchase before any click — no match
        (4, datetime(2024, 1, 1, 9, 0), 2, "purchase", 2.0, "{}"),
        (5, datetime(2024, 1, 1, 9, 30), 2, "click", 1.0, "{}"),
    ]
    # two files -> two micro-batches on each side
    _write_batch(spark, src, rows[:3])
    _write_batch(spark, src, rows[3:])

    from bfs_etl_sep2025_spark.streaming.jobs import stream_interval_join

    joined = stream_interval_join(_read_stream(spark, src), _read_stream(spark, src))
    batches = run_stream_collect(joined, ckpt)
    got = sorted(
        (r.click_id, r.purchase_id) for _, b in batches for r in b
    )
    assert got == [(1, 2)]

    # convergence: identical to the batch plan over the same rows
    batch_df = spark.createDataFrame(rows, SCHEMA)
    c = batch_df.filter("event_type = 'click'").selectExpr(
        "event_id AS click_id", "user_id", "ts AS click_ts"
    )
    p = batch_df.filter("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id", "user_id AS p_user_id", "ts AS purchase_ts"
    )
    import pyspark.sql.functions as F

    batch = c.join(
        p,
        (c.user_id == p.p_user_id)
        & (p.purchase_ts > c.click_ts)
        & (p.purchase_ts <= c.click_ts + F.expr("INTERVAL 1 HOUR")),
    )
    assert sorted(
        (r.click_id, r.purchase_id) for r in batch.collect()
    ) == got


@slow
def test_foreachbatch_merge_upsert_sink(stream_env):
    """Streaming upsert: each micro-batch MERGEs into a catalog table via
    foreachBatch (latest value per user wins within the batch; the MERGE
    updates matches and inserts the rest). Re-running a batch of the same
    keys converges instead of duplicating — the exactly-once-style sink the
    reference's warehouse MERGE loads provide."""
    from pyspark.sql import functions as F

    from bfs_etl_sep2025_spark.streaming.jobs import run_stream_merge_upsert

    spark, src, ckpt = stream_env
    spark.sql("CREATE DATABASE IF NOT EXISTS dev_db")
    spark.sql("DROP TABLE IF EXISTS dev_db.user_latest")
    spark.sql(
        "CREATE TABLE dev_db.user_latest "
        "(user_id BIGINT, ts TIMESTAMP_NTZ, value DOUBLE)"
    )

    def latest_per_user(batch_df):
        # collapse to one row per merge key (MERGE raises on duplicates)
        return (
            batch_df.groupBy("user_id")
            .agg(F.max_by(F.struct("ts", "value"), "ts").alias("s"))
            .select("user_id", "s.ts", "s.value")
        )

    from datetime import datetime

    def go():
        run_stream_merge_upsert(
            _read_stream(spark, src),
            target="dev_db.user_latest",
            merge_sql=(
                "MERGE INTO dev_db.user_latest t USING batch_latest s "
                "ON t.user_id = s.user_id "
                "WHEN MATCHED THEN UPDATE SET ts = s.ts, value = s.value "
                "WHEN NOT MATCHED THEN INSERT (user_id, ts, value) "
                "VALUES (s.user_id, s.ts, s.value)"
            ),
            checkpoint_dir=ckpt,
            source_view="batch_latest",
            prepare=latest_per_user,
        )

    # batch 1: two events for user 1 -> latest (11:00) wins within the batch
    _write_batch(spark, src, _rows([(1, (10, 0)), (2, (11, 0))]))
    go()
    # batch 2: user 1 again with a newer ts (UPDATE path) + user 2 (INSERT)
    spark.createDataFrame(
        [
            (3, datetime(2024, 1, 1, 13, 0), 1, "click", 5.0, "{}"),
            (4, datetime(2024, 1, 1, 12, 0), 2, "click", 9.0, "{}"),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    go()
    rows = {
        (r.user_id, r.ts.hour, r.value)
        for r in spark.table("dev_db.user_latest").collect()
    }
    assert rows == {(1, 13, 5.0), (2, 12, 9.0)}


@slow
def test_stream_merge_full_sync_mirror(stream_env):
    """run_stream_merge_upsert with a WHEN NOT MATCHED BY SOURCE DELETE
    branch: each micro-batch is treated as the full upstream truth, so the
    target table MIRRORS the latest batch — rows that vanished upstream are
    deleted by the BY SOURCE branch, not left behind (VERDICT r5 item 3)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from bfs_etl_sep2025_spark.streaming.jobs import run_stream_merge_upsert

    spark, src, ckpt = stream_env
    spark.sql("CREATE DATABASE IF NOT EXISTS dev_db")
    spark.sql("DROP TABLE IF EXISTS dev_db.user_mirror")
    spark.sql(
        "CREATE TABLE dev_db.user_mirror (user_id BIGINT, value DOUBLE)"
    )

    def one_per_user(batch_df):
        return (
            batch_df.groupBy("user_id")
            .agg(F.max_by("value", "ts").alias("value"))
        )

    def go():
        run_stream_merge_upsert(
            _read_stream(spark, src),
            target="dev_db.user_mirror",
            merge_sql=(
                "MERGE INTO dev_db.user_mirror t USING batch_users s "
                "ON t.user_id = s.user_id "
                "WHEN MATCHED THEN UPDATE SET value = s.value "
                "WHEN NOT MATCHED THEN INSERT (user_id, value) "
                "VALUES (s.user_id, s.value) "
                "WHEN NOT MATCHED BY SOURCE THEN DELETE"
            ),
            checkpoint_dir=ckpt,
            source_view="batch_users",
            prepare=one_per_user,
        )

    # snapshot 1: users 1 and 2
    spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 0), 1, "click", 1.0, "{}"),
            (2, datetime(2024, 1, 1, 10, 0), 2, "click", 2.0, "{}"),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    go()
    rows = {
        (r.user_id, r.value)
        for r in spark.table("dev_db.user_mirror").collect()
    }
    assert rows == {(1, 1.0), (2, 2.0)}
    # snapshot 2: user 1 gone upstream, user 2 updated, user 3 new
    spark.createDataFrame(
        [
            (3, datetime(2024, 1, 1, 11, 0), 2, "click", 20.0, "{}"),
            (4, datetime(2024, 1, 1, 11, 0), 3, "click", 3.0, "{}"),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    go()
    rows = {
        (r.user_id, r.value)
        for r in spark.table("dev_db.user_mirror").collect()
    }
    assert rows == {(2, 20.0), (3, 3.0)}


@slow
def test_stream_profile_monitor_appends_versioned_metrics(stream_env, tmp_path):
    """Per-micro-batch profile rows land as versioned appends; checkpoint
    recovery means a re-run with no new files appends nothing; a gate
    raise fails the stream BEFORE the poisoned batch is recorded."""
    from bfs_etl_sep2025_spark.plans.versioned import VersionedTable
    from bfs_etl_sep2025_spark.streaming.jobs import (
        run_stream_profile_monitor,
    )

    spark, src, ckpt = stream_env
    vt = VersionedTable(spark, str(tmp_path / "metrics"))

    _write_batch(spark, src, _rows([(1, (10, 0)), (2, (10, 1))]))
    _write_batch(spark, src, _rows([(3, (11, 0))]))
    run_stream_profile_monitor(_read_stream(spark, src), vt, ckpt)

    # maxFilesPerTrigger=1 -> two micro-batches -> create + append
    assert [h["op"] for h in vt.history()] == ["create", "append"]
    prof = {
        (r["epoch_id"], r["event_type"]): (r["n"], r["value_sum"], r["n_nulls"])
        for r in vt.read().collect()
    }
    assert prof[(0, "click")] == (2, 2.0, 0)
    assert prof[(1, "click")] == (1, 1.0, 0)

    # replay with the same checkpoint: processed files skipped, no append
    run_stream_profile_monitor(_read_stream(spark, src), vt, ckpt)
    assert [h["op"] for h in vt.history()] == ["create", "append"]

    # circuit breaker: a gate raise fails the query and records nothing
    _write_batch(spark, src, _rows([(4, (12, 0))]))

    def gate(rows):
        raise RuntimeError("poisoned batch")

    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="poisoned batch"):
        run_stream_profile_monitor(
            _read_stream(spark, src), vt, ckpt, gate=gate
        )
    assert [h["op"] for h in vt.history()] == ["create", "append"]


_STATE_PROVIDERS = {
    "hdfs": "HDFSBackedStateStoreProvider",
    "rocksdb": "RocksDBStateStoreProvider",
}


@pytest.fixture(params=sorted(_STATE_PROVIDERS))
def state_provider(request, spark):
    """Run under each state store provider; the session's own provider is
    restored afterwards."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        + _STATE_PROVIDERS[request.param],
    )
    yield _STATE_PROVIDERS[request.param]
    spark.conf.set(key, old)


#: plan nodes that mean rows cross into a Python worker
_PYTHON_NODES = (
    "TransformWithStateInPySpark",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
)


def _profiles(batches):
    """Per non-empty micro-batch: ``{user_id: (n_events, n_types,
    top_type)}`` of the rows it emitted."""
    return [
        {r.user_id: (r.n_events, r.n_types, r.top_type) for r in rows}
        for _, rows in batches
        if rows
    ]


def _executed_plan(job, ckpt):
    """Physical plan of ``job``'s last micro-batch, drained once into a
    no-op sink under its own checkpoint."""
    q = (
        job.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q._jsq.explainInternal(False)


@slow
def test_user_profile_stream_accumulates_and_survives_restart(
    stream_env, tmp_path, state_provider
):
    """The per-user profile stream (one built-in Update-mode aggregation)
    must accumulate counts and per-type counters across micro-batches,
    emit only the users a batch touched, break top-type ties by name, and
    keep every user's state across a checkpoint restart — on the
    HDFS-backed and the RocksDB state store alike, with no Python worker
    in the executed plan."""
    from datetime import datetime

    from bfs_etl_sep2025_spark.streaming.jobs import stream_user_profile_tws

    spark, src, ckpt = stream_env
    rows1 = [
        (1, datetime(2024, 1, 1, 10, 0), 1, "click", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 10, 5), 1, "view", 1.0, "{}"),
        (3, datetime(2024, 1, 1, 10, 6), 1, "view", 1.0, "{}"),
        # user 2 appears ONLY in this first file: their state must sit
        # untouched through batch 2 and the checkpoint restart, then
        # still be there when they return (r10: untouched-key durability)
        (7, datetime(2024, 1, 1, 10, 7), 2, "view", 1.0, "{}"),
    ]
    rows2 = [
        (4, datetime(2024, 1, 1, 11, 0), 1, "click", 1.0, "{}"),
        (5, datetime(2024, 1, 1, 11, 1), 1, "click", 1.0, "{}"),
    ]
    _write_batch(spark, src, rows1)
    _write_batch(spark, src, rows2)
    job = stream_user_profile_tws(_read_stream(spark, src))
    batches = run_stream_collect(job, ckpt, output_mode="update")
    per_batch = _profiles(batches)
    assert len(per_batch) == 2  # maxFilesPerTrigger=1 -> one per file
    # after file 1: 3 events, 2 types, 'view' leads 2-1
    assert per_batch[0][1] == (3, 2, "view")
    assert per_batch[0][2] == (1, 1, "view")
    # after file 2: 5 events, clicks now lead 3-2 — type counts accumulated
    assert per_batch[1][1] == (5, 2, "click")
    # update mode emits only TOUCHED keys: user 2 had no batch-2 rows,
    # so re-emitting (or worse, recomputing) their profile here would
    # mean the operator walks all state per batch instead of per key
    assert 2 not in per_batch[1]
    # restart from checkpoint: a tie (view=3 vs click=3) breaks by NAME;
    # user 2 returns after sitting out a batch AND a restart — their
    # state must have survived untouched (not been recomputed from the
    # visible micro-batch, which would give (1,1))
    _write_batch(
        spark,
        src,
        [
            (6, datetime(2024, 1, 1, 12, 0), 1, "view", 1.0, "{}"),
            (8, datetime(2024, 1, 1, 12, 1), 2, "click", 1.0, "{}"),
        ],
    )
    more = run_stream_collect(job, ckpt, output_mode="update")
    got = {r.user_id: (r.n_events, r.n_types, r.top_type)
           for _, rows in more for r in rows}
    assert got[1] == (6, 2, "view")
    # 2 events, 2 types, view/click tie at 1-1 -> same name tie-break
    assert got[2] == (2, 2, "view")
    # the checkpoint pins the provider the state was written with
    with open(f"{ckpt}/offsets/0") as f:
        assert state_provider in f.read()
    plan = _executed_plan(job, str(tmp_path / "plan_ckpt"))
    assert "StateStoreSave" in plan
    assert not [n for n in _PYTHON_NODES if n in plan], plan


def test_user_profile_stream_null_event_types(stream_env, tmp_path):
    """NULL ``event_type`` counts as an event but never as a type: a mixed
    user's NULLs add to ``n_events`` only, an all-NULL user has
    ``n_types = 0`` and a NULL ``top_type`` (until a typed event arrives),
    and count ties break by the larger name — per batch, across two
    checkpoint restarts, and in the converged profile the registered
    query's DuckDB oracle computes from the same files."""
    from datetime import datetime

    import duckdb

    from bfs_etl_sep2025_spark import registry
    from bfs_etl_sep2025_spark.streaming.jobs import stream_user_profile_tws

    spark, src, ckpt = stream_env
    t = datetime(2024, 1, 1, 10, 0)

    def run(events):
        _write_batch(
            spark, src, [(i, t, u, et, 1.0, "{}") for i, u, et in events]
        )
        job = stream_user_profile_tws(_read_stream(spark, src))
        return _profiles(run_stream_collect(job, ckpt, output_mode="update"))

    # user 1 mixed, user 2 all-NULL, user 3 a 1-1 tie
    b1 = run([(1, 1, "click"), (2, 1, None), (3, 1, "view"), (4, 1, "view"),
              (5, 2, None), (6, 2, None), (7, 3, "a"), (8, 3, "b")])
    assert b1 == [{1: (4, 2, "view"), 2: (2, 0, None), 3: (2, 2, "b")}]
    # restart 1: user 2 stays all-NULL; clicks overtake views for user 1
    b2 = run([(9, 2, None), (10, 1, "click"), (11, 1, "click")])
    assert b2 == [{1: (6, 2, "click"), 2: (3, 0, None)}]
    # restart 2: user 2's first typed event; user 3's tie resolves
    b3 = run([(12, 2, "x"), (13, 3, "a"), (14, 1, None)])
    assert b3 == [{1: (7, 2, "click"), 2: (4, 1, "x"), 3: (3, 2, "a")}]

    converged = {**b1[0], **b2[0], **b3[0]}
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{src}/*.parquet')"
        )
        oracle = registry.all_specs()["stream_typed_state_profile"].oracle
        want = {r[0]: tuple(r[1:]) for r in con.execute(oracle).fetchall()}
    finally:
        con.close()
    assert converged == want


@slow
def test_lsh_dedup_gate_retroactive_flip_out_of_order(
    stream_env, tmp_path, state_provider
):
    """The streaming LSH gate's order-invariance contract: when a SMALLER
    doc_id reaches a band bucket in a LATER micro-batch, the previous
    bucket minimum — the only stored doc that was not already flagged —
    must be retroactively re-emitted as a duplicate, so bool_or(dup) per
    doc equals the batch rule under any arrival order. The per-bucket
    minimum must survive a checkpoint restart, on the HDFS-backed and the
    RocksDB state store alike, through ``applyInPandasWithState``."""
    from bfs_etl_sep2025_spark.streaming.jobs import stream_lsh_band_dedup

    spark, src, ckpt = stream_env
    schema = "bucket string, doc_id bigint"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain():
        return [
            sorted((r.doc_id, r.dup) for r in rows)
            for _, rows in run_stream_collect(job, ckpt, output_mode="update")
            if rows
        ]

    # batch 1: docs 5 and 9 share bucket A (9 flagged, 5 kept); doc 7 alone
    write([("A", 5), ("A", 9), ("B", 7)])
    # batch 2: doc 3 arrives LATE into bucket A -> 5 must flip to dup
    write([("A", 3), ("B", 8)])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    job = stream_lsh_band_dedup(stream)
    per_batch = drain()
    assert len(per_batch) == 2
    assert per_batch[0] == [(5, False), (7, False), (9, True)]
    # the flip: 3 arrives (kept), 5 re-emitted as dup; 8 flagged behind 7
    assert per_batch[1] == [(3, False), (5, True), (8, True)]
    # restart from checkpoint: both buckets' minima (3, 7) come back from
    # the state store and are flipped by the smaller ids 1 and 6
    write([("A", 1), ("B", 6)])
    restarted = drain()
    assert restarted == [[(1, False), (3, True), (6, False), (7, True)]]
    final = {}
    for b in per_batch + restarted:
        for d, f in b:
            final[d] = final.get(d, False) or f
    # batch rule on the union: smaller-id-in-bucket exists
    assert final == {
        1: False, 3: True, 5: True, 6: False, 7: True, 8: True, 9: True
    }
    with open(f"{ckpt}/offsets/0") as f:
        assert state_provider in f.read()
    plan = _executed_plan(job, str(tmp_path / "plan_ckpt"))
    assert "FlatMapGroupsInPandasWithState" in plan, plan
    assert "TransformWithStateInPySpark" not in plan, plan


def test_build_spark_leaves_no_protobuf_shim(spark):
    """Building the session edits neither the worker ``PYTHONPATH`` nor
    ``sys.path``, and the package ships no vendored protobuf runtime."""
    import importlib
    import os
    import sys

    assert "protoshim" not in os.environ.get("PYTHONPATH", "")
    assert not [p for p in sys.path if "protoshim" in p]
    with pytest.raises(ImportError):
        importlib.import_module("bfs_etl_sep2025_spark.vendor")
