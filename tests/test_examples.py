"""The examples/ ports of the reference DAGs must import and run — they ARE
the 'a reference user can switch' claim, executed."""

from __future__ import annotations

import importlib
import re
import os
import sys

import pytest
from pyspark.sql import functions as F

#: slow tier (r12): end-to-end example-pipeline DAG runs
pytestmark = pytest.mark.slow

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples"))


@pytest.mark.parametrize(
    "module, pipeline_id, tasks",
    [
        ("empty_workflow_example", "basic_three_empty_tasks", 3),
        ("complex_example", "example_complex_demo", 5),
        ("dev_db_test", "dev_db_test", 5),
        ("s3_data_copy_test", "s3_data_copy_test", 1),
    ],
)
def test_example_definitions(module, pipeline_id, tasks):
    mod = importlib.import_module(module)
    dag = mod.dag
    assert dag.pipeline_id == pipeline_id
    assert len(dag.tasks) == tasks


def test_empty_workflow_runs(spark):
    dag = importlib.import_module("empty_workflow_example").dag
    dag.run(spark)  # three no-ops; success == no exception


def test_complex_diamond_runs(spark):
    mod = importlib.import_module("complex_example")
    mod.dag.run(spark, parallelism=2)
    assert mod.merge.last_output.strip() == "merge"


def test_file_format_clause_parses_reference_string():
    from bfs_etl_sep2025_spark.sources import map_file_format

    task = importlib.import_module("s3_data_copy_test").copy_into_prestg
    assert task.file_format["type"] == "CSV"
    assert task.file_format["NULL_IF"] == ["NULL", "null", ""]
    assert task.file_format["RECORD_DELIMITER"] == "\n"
    assert task.file_format["FIELD_OPTIONALLY_ENCLOSED_BY"] == '"'
    reader, sentinels = map_file_format(task.file_format)
    assert reader["sep"] == "," and reader["header"] is True
    assert sentinels == ["null", "", ""]  # NULL_IF tail + empty_field_as_null


def test_llm_corpus_pipeline_runs_end_to_end(spark, tmp_path):
    """The composed LLM-corpus DAG: quality gate -> fused clean ->
    budget-select -> publish, staging through ONE versioned table whose
    every intermediate state stays time-travelable."""
    mod = importlib.import_module("llm_corpus_pipeline")
    dag, (profile, clean, select, publish) = mod.build(str(tmp_path / "tbl"))
    assert dag.pipeline_id == "llm_corpus_pipeline"
    dag.run(spark)

    assert profile.last_result  # quality verdicts collected, none fatal
    assert clean.last_result["rows"] > 0
    # budget selection can only shrink the corpus
    assert 0 < select.last_result["rows"] <= clean.last_result["rows"]
    ops = [h["op"] for h in publish.last_result["history"]]
    assert ops == ["create", "budget_select"]
    assert publish.last_result["per_source"]  # audit counts present

    # the pre-selection corpus is still readable (time travel)
    from bfs_etl_sep2025_spark.plans.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "tbl"))
    assert vt.read(version=1).count() == clean.last_result["rows"]


def test_python_task_renders_params_and_records_result(spark):
    """PythonTask parity basics: logical-date templating reaches params,
    the callable sees the live session, the result is retained."""
    from bfs_etl_sep2025_spark.plans import Pipeline, PythonTask

    with Pipeline(
        pipeline_id="pt_demo",
        schedule=None,
        start_date=__import__("datetime").datetime(2022, 7, 13),
        catchup=False,
    ) as dag:
        t = PythonTask(
            "probe",
            lambda sp, stamp: (sp.version, stamp),
            stamp="file_{{ ds_nodash }}.csv",
        )
    dag.run(spark, run_date=__import__("datetime").datetime(2022, 7, 13))
    version, stamp = t.last_result
    assert version == spark.version
    assert stamp == "file_20220713.csv"


def test_drift_monitor_pipeline_runs_end_to_end(spark, tmp_path):
    """The drift-monitor DAG: profile snapshot into a versioned metrics
    store -> KS hard gate (fixture drift is soft, run succeeds) ->
    audit publish. Two runs append two dated snapshots."""
    mod = importlib.import_module("drift_monitor_pipeline")
    dag, (snapshot, gate, publish) = mod.build(str(tmp_path / "metrics"))
    assert dag.pipeline_id == "drift_monitor_pipeline"
    dag.run(spark)

    assert snapshot.last_result["rows"] == 5  # one profile row per type
    # fixture drift sits below the hard ceiling but above the soft flag
    assert gate.last_result["soft_drift"]
    assert gate.last_result["checked"] == 5
    assert publish.last_result["types_tracked"] == 5
    assert [h["op"] for h in publish.last_result["history"]] == ["create"]

    dag.run(spark)  # second scheduled run appends, never rewrites
    ops = [h["op"] for h in publish.last_result["history"]]
    assert ops == ["create", "append"]

    # the metrics store is queryable like any table: 2 snapshots per type
    from bfs_etl_sep2025_spark.plans.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "metrics"))
    assert vt.read().count() == 10

    # a breached ceiling aborts loudly
    import pytest as _pytest

    old = mod.HARD_KS_MILLE
    mod.HARD_KS_MILLE = 1
    try:
        with _pytest.raises(RuntimeError, match="KS drift ceiling"):
            dag.run(spark)
    finally:
        mod.HARD_KS_MILLE = old


def test_incremental_consumer_matches_full_recompute(spark, tmp_path):
    """The CDF consumer's incrementally maintained per-status totals must
    equal a full recompute of the upstream snapshot after EVERY sync,
    across appends, upserts (status flips), and deletes; a no-change sync
    is a no-op and the high-water mark lives in the downstream history."""
    mod = importlib.import_module("incremental_consumer_pipeline")
    from bfs_etl_sep2025_spark.plans.versioned import VersionedTable

    orders = VersionedTable(spark, str(tmp_path / "orders"))
    agg = VersionedTable(spark, str(tmp_path / "totals"))

    def df(rows):
        return spark.createDataFrame(rows, "id INT, status STRING, qty INT")

    def check():
        got = sorted(
            (r["status"], r["n"], r["total_qty"])
            for r in agg.read().collect()
        )
        want = sorted(
            (r["status"], r["n"], r["total_qty"])
            for r in orders.read()
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("qty").cast("bigint").alias("total_qty"),
            )
            .collect()
        )
        assert got == want, (got, want)

    orders.create(df([(1, "open", 5), (2, "done", 3), (3, "open", 1)]))
    assert mod.sync(orders, agg) == 1
    check()

    orders.upsert(df([(1, "done", 5), (4, "open", 9)]), keys=["id"])
    orders.delete_where("id = 3")
    assert mod.sync(orders, agg) == 3
    check()

    # no new upstream commits -> no downstream commit
    before = len(agg.history())
    assert mod.sync(orders, agg) == 3
    assert len(agg.history()) == before

    # the mark is recoverable from history alone
    assert mod.last_synced_version(agg) == 3


def test_timetravel_audit_pipeline_runs_end_to_end(spark, tmp_path):
    """The r7 time-travel surface exercised as a composed DAG: versioned
    loads/revisions through PythonTask, then PLAIN Snowflake SQL through
    SqlTask — AT(OFFSET => 0) vs BEFORE(STATEMENT => 2) audit diff and a
    CLONE ... AT(VERSION => 1) freeze — verified against the manifest
    history (VERDICT r6 item 2's golden pipeline)."""
    import timetravel_audit_pipeline as tt
    from bfs_etl_sep2025_spark.plans.versioned import (
        unregister_versioned_table,
    )

    dag, (load, revise, audit, freeze, verify) = tt.build(
        str(tmp_path / "prices")
    )
    try:
        dag.run(spark)
    finally:
        unregister_versioned_table("prices_v")
        spark.sql("DROP TABLE IF EXISTS prices_frozen_v1")
    assert load.last_result == {"version": 1}
    assert revise.last_result == {"upsert_version": 2, "delete_version": 3}
    assert verify.last_result["audit_rows"] == 3
    assert verify.last_result["frozen_rows"] == 3
    assert verify.last_result["ops"] == ["create", "upsert", "delete"]
    # the shim really rewrote the time-travel clauses (not passed through)
    assert any(re.search(r"__tt_prices_v_[0-9a-f]{12}_v\d", s) for s in audit.executed)


def test_stream_task_incremental_pipeline_runs_end_to_end(spark, tmp_path):
    """The r8 STREAM+TASK surface as a composed DAG: plain Snowflake SQL
    wires a change stream and a WHEN-gated TASK; each EXECUTE TASK moves
    exactly the unconsumed delta, a drained stream gates the body off,
    and the task run-log records both real runs plus the skip."""
    import stream_task_incremental_pipeline as st
    from bfs_etl_sep2025_spark.plans.snowtasks import clear_tasks
    from bfs_etl_sep2025_spark.plans.streams import clear_streams
    from bfs_etl_sep2025_spark.plans.versioned import (
        unregister_versioned_table,
    )

    dag, tasks = st.build(str(tmp_path / "orders_feed"))
    try:
        dag.run(spark)
    finally:
        unregister_versioned_table("orders_feed")
        clear_streams()
        clear_tasks()
        spark.sql("DROP TABLE IF EXISTS orders_landed")
    bootstrap, wire, land1, fire1, land2, fire2, verify = tasks
    assert fire1.last_result["ran"] == ["load_orders"]
    assert fire2.last_result["ran"] == ["load_orders"]
    # consumption advanced the offset between fires
    assert fire2.last_result["offset"] > fire1.last_result["offset"]
    assert verify.last_result["landed_rows"] == 3


def test_crawl_dedup_pipeline_incremental_equals_full_rescan(spark, tmp_path):
    """The incremental-dedup contract (VERDICT r9 item 5), executed:

    1. the DAG runs end-to-end — three batch syncs against the persisted
       signature store, then publish;
    2. EQUIVALENCE: the corpus after N incremental syncs equals the
       full-rescan dedup (one sync of the whole corpus against an empty
       store) — the dup rule is batching-invariant, so the answers must
       be identical sets, not merely similar;
    3. MERGE idempotence: re-syncing an already-committed batch leaves
       the store row-count unchanged and returns the same verdicts.
    """
    import crawl_dedup_pipeline as cd
    from bfs_etl_sep2025_spark.operators.incremental import (
        commit_pending,
        sync_batch,
    )
    from bfs_etl_sep2025_spark.plans.versioned import VersionedTable
    from bfs_etl_sep2025_spark.tables import load

    dag, tasks = cd.build(
        str(tmp_path / "sig_store"), str(tmp_path / "corpus"),
        str(tmp_path / "sem_store")
    )
    dag.run(spark)
    publish = tasks[-1].last_result
    ingests = [t for t in tasks[:-1] if t.task_id.startswith("ingest_")]
    gates = [t for t in tasks[:-1] if t.task_id.startswith("semantic_")]
    ingested = sum(t.last_result["total"] for t in ingests)
    kept = sum(t.last_result["kept"] for t in ingests)
    sem_dups = sum(t.last_result["semantic_dups"] for t in gates)
    assert publish["fingerprints"] == ingested  # every doc fingerprinted
    assert publish["sem_vectors"] == kept  # every text-kept doc embedded
    assert publish["corpus_docs"] == kept - sem_dups
    assert len(publish["store_versions"]) == cd.N_BATCHES

    # full rescan: ONE sync of everything against an empty store
    docs = load(spark, cd.SF_DIR, "documents").select("doc_id", "text")
    rescan_store = VersionedTable(spark, str(tmp_path / "rescan_store"))
    pending: list = []
    rescan = sync_batch(spark, docs, rescan_store, pending)
    commit_pending(rescan_store, pending, keys=["doc_id"])
    rescan_kept = sorted(
        r["doc_id"] for r in rescan.filter("keep").collect()
    )
    # two-tier rescan twin: semantic dedup of the text-kept set in ONE
    # sync against an empty store, via the same machinery
    from bfs_etl_sep2025_spark.operators.incremental import _sem_sync_batch
    from bfs_etl_sep2025_spark.operators.similarity import (
        SEMDEDUP_STRIDE,
        _norm_arr,
    )

    n = load(spark, cd.SF_DIR, "embeddings").select(
        "vec_id", "embedding", _norm_arr("embedding").alias("nrm")
    )
    cent = n.filter(F.col("vec_id") % SEMDEDUP_STRIDE == 0).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    kept_embs = n.filter(F.col("vec_id").isin([int(i) for i in rescan_kept]))
    sem_rescan_store = VersionedTable(spark, str(tmp_path / "sem_rescan"))
    pending = []
    sem_verd = _sem_sync_batch(spark, kept_embs, cent, sem_rescan_store, pending)
    commit_pending(sem_rescan_store, pending, keys=["vec_id"])
    sem_removed = {
        r["vec_id"] for r in sem_verd.filter("exemplar IS NOT NULL").collect()
    }
    expected_final = sorted(set(rescan_kept) - sem_removed)

    corpus = VersionedTable(spark, str(tmp_path / "corpus"))
    incr_kept = sorted(r["doc_id"] for r in corpus.read().collect())
    assert incr_kept == expected_final
    assert sem_removed, "fixture is known to contain semantic near-dups"

    # MERGE idempotence: re-sync batch 0 against the already-full store
    store = VersionedTable(spark, str(tmp_path / "sig_store"))
    n_before = store.read().count()
    bounds = cd._batch_bounds(spark, cd.SF_DIR, cd.N_BATCHES)
    batch0 = docs.filter(F.col("doc_id") <= bounds[1])
    pending = []
    again = sync_batch(spark, batch0, store, pending)
    commit_pending(store, pending, keys=["doc_id"])
    assert store.read().count() == n_before  # replaced, not double-inserted
    verd0 = {
        r["doc_id"]: (r["exact_dup"], r["near_dup"])
        for r in again.collect()
    }
    orig0 = {
        r["doc_id"]: (r["exact_dup"], r["near_dup"])
        for r in rescan.filter(F.col("doc_id") <= bounds[1]).collect()
    }
    assert verd0 == orig0
