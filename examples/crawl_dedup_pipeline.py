"""Incremental crawl-dedup pipeline — dedup each NEW crawl batch against
the EXISTING corpus's persisted fingerprints, never rescanning it:

    ingest_batch_0 >> semantic_gate_0 >> ingest_batch_1 >> ... >> publish

Each ingest task takes one crawl batch (here: a contiguous ``doc_id``
range of the ``documents`` fixture — production batches are "today's
crawl"), runs ``operators/incremental.py::sync_batch`` (fingerprint the
delta, band-equi-join it against the signature store, MERGE the
fingerprints in), and appends the KEPT documents to the corpus table.
The signature store and the corpus are both ``VersionedTable``s, so
every sync is a time-travelable commit and a re-run of a failed batch
is idempotent (MERGE on ``doc_id`` replaces instead of double-inserts).

Each semantic_gate task (r11) then passes the batch's surviving docs
through the SECOND dedup tier: their embeddings sync against a persisted
semantic cell store (``operators/incremental.py::_sem_sync_batch`` — the
machinery behind ``dedup_incremental_semantic``), and SemDeDup-flagged
docs are DELETEd from the corpus (``VersionedTable.delete_where`` — a
manifest-pruned MERGE-shaped delete, itself a time-travelable commit).
The full production shape: text near-dup gate, then embedding-level
near-dup gate, both incremental, both against persisted state.

publish records the audit trail: per-batch verdict counts plus the store
and corpus version histories — the load metadata a warehouse exposes.

The equivalence contract (tests/test_examples.py): after all N syncs the
corpus equals the full-rescan dedup of the union — the dup rule is
batching-invariant (see the operator module docstring), so incremental
and rescan answers are identical, not merely similar.

Reference shape: the date-partitioned incremental COPY loads
(``/root/reference/dags/s3_data_copy_test.py:24-34``) — each day's batch
loads against standing state; this pipeline adds the dedup gate a
training-corpus ingest needs.
"""

import datetime
import pathlib
import sys
import tempfile

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))  # repo checkout; pip install replaces this

from pyspark.sql import functions as F

from bfs_etl_sep2025_spark.plans import Pipeline, PythonTask, chain
from bfs_etl_sep2025_spark.plans.versioned import VersionedTable

PIPELINE_ID = "crawl_dedup_pipeline"
SF_DIR = "/root/testdata/sf0.001"
N_BATCHES = 3


def _batch_bounds(spark, sf_dir, n_batches):
    """Contiguous doc_id ranges simulating arrival order (exact
    percentiles — deterministic)."""
    from bfs_etl_sep2025_spark.tables import load

    qs = [i / n_batches for i in range(1, n_batches)]
    row = load(spark, sf_dir, "documents").agg(
        F.expr(f"percentile(doc_id, array({', '.join(map(str, qs))}))")
    ).first()[0]
    return [float("-inf")] + list(row) + [float("inf")]


def ingest_fn(spark, batch_no=0, sf_dir=SF_DIR, store_root=None,
              corpus_root=None, **_):
    from bfs_etl_sep2025_spark.operators.incremental import (
        commit_pending,
        sync_batch,
    )
    from bfs_etl_sep2025_spark.tables import load

    bounds = _batch_bounds(spark, sf_dir, N_BATCHES)
    lo, hi = bounds[batch_no], bounds[batch_no + 1]
    batch = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi))
    )
    store = VersionedTable(spark, store_root)
    pending: list = []
    verdicts = sync_batch(spark, batch, store, pending)
    commit_pending(store, pending, keys=["doc_id"])
    verdicts = verdicts.localCheckpoint(eager=True)
    kept = batch.join(verdicts.filter("keep").select("doc_id"), "doc_id")
    corpus = VersionedTable(spark, corpus_root)
    if corpus.exists():
        corpus.upsert(kept, keys=["doc_id"])  # idempotent re-run
    else:
        corpus.create(kept)
    row = verdicts.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("keep").cast("int")).alias("kept"),
        F.sum(F.col("exact_dup").cast("int")).alias("exact_dup"),
        F.sum(F.col("near_dup").cast("int")).alias("near_dup"),
    ).first()
    return {k: int(row[k]) for k in ("total", "kept", "exact_dup", "near_dup")}


def semantic_fn(spark, batch_no=0, sf_dir=SF_DIR, sem_store_root=None,
                corpus_root=None, **_):
    """Semantic-dedup gate for one batch: sync the batch's text-kept docs'
    embeddings against the persisted cell store, then delete SemDeDup-
    flagged docs from the corpus. Offline codebook = the fixed
    every-SEMDEDUP_STRIDEth-vector cells, identical across syncs (the
    batching-invariance precondition)."""
    from bfs_etl_sep2025_spark.operators.incremental import (
        _sem_sync_batch,
        commit_pending,
    )
    from bfs_etl_sep2025_spark.operators.similarity import (
        SEMDEDUP_STRIDE,
        _norm_arr,
    )
    from bfs_etl_sep2025_spark.tables import load

    bounds = _batch_bounds(spark, sf_dir, N_BATCHES)
    lo, hi = bounds[batch_no], bounds[batch_no + 1]
    corpus = VersionedTable(spark, corpus_root)
    kept_ids = (
        corpus.read()
        .filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi))
        .select(F.col("doc_id").alias("vec_id"))
    )
    n = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _norm_arr("embedding").alias("nrm")
    )
    cent = n.filter(F.col("vec_id") % SEMDEDUP_STRIDE == 0).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    sem_store = VersionedTable(spark, sem_store_root)
    pending: list = []
    verdicts = _sem_sync_batch(
        spark, n.join(kept_ids, "vec_id"), cent, sem_store, pending
    )
    commit_pending(sem_store, pending, keys=["vec_id"])
    dup_ids = sorted(
        r["vec_id"] for r in verdicts.filter("exemplar IS NOT NULL").collect()
    )  # answer-sized (the flagged docs), like the verdict counts
    if dup_ids:
        corpus.delete_where(
            f"doc_id IN ({', '.join(map(str, dup_ids))})"
        )
    return {"checked": verdicts.count(), "semantic_dups": len(dup_ids)}


def publish_fn(spark, store_root=None, sem_store_root=None,
               corpus_root=None, **_):
    store = VersionedTable(spark, store_root)
    sem_store = VersionedTable(spark, sem_store_root)
    corpus = VersionedTable(spark, corpus_root)
    return {
        "store_versions": [h["version"] for h in store.history()],
        "sem_store_versions": [h["version"] for h in sem_store.history()],
        "corpus_versions": [h["version"] for h in corpus.history()],
        "fingerprints": store.read().count(),
        "sem_vectors": sem_store.read().count(),
        "corpus_docs": corpus.read().count(),
    }


def build(store_root: str, corpus_root: str, sem_store_root: str):
    with Pipeline(
        pipeline_id=PIPELINE_ID,
        schedule="0 4 * * *",  # nightly crawl ingest
        start_date=datetime.datetime(2025, 7, 1),
        catchup=False,
        tags=["llm", "dedup", "incremental"],
    ) as dag:
        stages = []
        for i in range(N_BATCHES):
            stages.append(
                PythonTask(
                    f"ingest_batch_{i}",
                    ingest_fn,
                    batch_no=i,
                    store_root=store_root,
                    corpus_root=corpus_root,
                )
            )
            stages.append(
                PythonTask(
                    f"semantic_gate_{i}",
                    semantic_fn,
                    batch_no=i,
                    sem_store_root=sem_store_root,
                    corpus_root=corpus_root,
                )
            )
        publish = PythonTask(
            "publish", publish_fn,
            store_root=store_root, sem_store_root=sem_store_root,
            corpus_root=corpus_root,
        )
        chain(*stages, publish)
    return dag, (*stages, publish)


_tmp = pathlib.Path(tempfile.gettempdir())
dag, tasks = build(
    str(_tmp / "crawl_dedup_store"),
    str(_tmp / "crawl_dedup_corpus"),
    str(_tmp / "crawl_dedup_sem_store"),
)


if __name__ == "__main__":
    from bfs_etl_sep2025_spark.session import build_spark

    dag.run(build_spark())
    print(f"ran {dag.pipeline_id}: publish -> {tasks[-1].last_result}")
