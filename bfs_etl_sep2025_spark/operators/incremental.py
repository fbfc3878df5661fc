"""Incremental dedup against a persisted fingerprint store (Tier C).

The one production dedup shape the full-rescan queries in ``dedup.py``
don't model: a 100 TB pipeline dedups each NEW crawl batch against the
EXISTING corpus without rescanning it. Pieces composed here:

- fingerprints: the exact content hash + the 16-hash minhash signature +
  the 4 LSH band hashes from ``dedup.py`` (same constants, same
  Kirsch-Mitzenmacher double hashing — so the verdicts are comparable
  with the full-rescan queries and oracle-recomputable);
- a ``VersionedTable`` signature store (``plans/versioned.py``)
  maintained via MERGE-upsert on ``doc_id`` — re-syncing a batch after a
  failure is idempotent, and every sync is a time-travelable version;
- band equi-joins of ONLY the delta batch against the store — the store
  is never rescanned for pair enumeration, and no all-pairs comparison
  ever happens.

Dup rule (the batch twin the oracle checks): a doc is a duplicate iff
some doc with a SMALLER ``doc_id`` among everything seen so far (the
store plus earlier rows of its own batch) is byte-identical
(``exact_dup``) or agrees on >= half the minhash signature after an LSH
band collision (``near_dup``) — the same "smaller id wins"
deterministic-survivor policy as ``dedup_exact`` and
``dedup_minhash_lsh_pairs``. Because the rule orders on ``doc_id`` and
crawl ids are assigned monotonically, the verdicts are INDEPENDENT of
how the stream is batched — one batch, N batches, or one doc at a time
give identical answers, which is exactly the property the equivalence
test pins (incremental over N syncs == full rescan).

Scale notes (100 TB):
- per-batch fingerprinting is the same embarrassingly-parallel shingle
  pipeline as the full-scan queries, but over the DELTA only;
- the store side of the candidate join streams (shuffle-hash on
  (band, band_hash)); the batch side is the small delta. The heavy
  signature-agreement count happens AFTER a per-doc aggregate barrier,
  never inside the join condition (the r8 BroadcastHashJoin
  extra-condition lesson);
- the store's MERGE prunes untouched data dirs by the ``doc_id`` footer
  range (``plans/versioned.py::upsert``), so appending a new id range
  never rewrites old signatures.
"""

from __future__ import annotations

from bfs_etl_sep2025_spark.session import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bfs_etl_sep2025_spark.operators.dedup import (
    N_HASHES,
    SQL_SHINGLES,
    SQL_SIG,
    band_hashes,
    minhash_signatures,
    n_agree,
)
from bfs_etl_sep2025_spark.operators.similarity import (
    SEMDEDUP_STRIDE,
    SEMDEDUP_TAU,
    _codebook,
    _ivf_assigner,
    _norm_arr,
    _sql_dot,
    _sql_norm,
    exact_rerank,
    gemm_pairs,
)
from bfs_etl_sep2025_spark.plans.versioned import VersionedTable
from bfs_etl_sep2025_spark.registry import query
from bfs_etl_sep2025_spark.tables import load, widen

#: signature-agreement threshold shared with dedup_minhash_lsh_pairs:
#: est-Jaccard >= 0.5 <=> >= half the minhashes agree
AGREE_MIN = N_HASHES // 2


def fingerprint_batch(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, h_exact, sig, bands): the exact md5,
    the minhash signature, and the 4 LSH band hashes — one store row per
    document. Bands are kept as a width-4 array (exploded only at join
    time) so the store stays one-row-per-doc and the MERGE key is just
    ``doc_id``."""
    return (
        docs.select("doc_id", F.md5("text").alias("h_exact"))
        .join(minhash_signatures(docs), "doc_id")
        .select("doc_id", "h_exact", "sig", band_hashes("sig").alias("bands"))
    )


def arrival_batches(
    df: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The arrival simulation of the incremental queries: ``df`` split into
    three contiguous ``id_col`` ranges at its exact tertiles (sort-based
    ``percentile``, deterministic). Two scalars reach the driver; nothing
    about the operator is driver-side."""
    t1, t2 = df.agg(
        F.expr(f"percentile({id_col}, array(0.3333333333, 0.6666666666))")
    ).first()[0]
    ids = F.col(id_col)
    return (
        df.filter(ids <= t1),
        df.filter((ids > t1) & (ids <= t2)),
        df.filter(ids > t2),
    )


def commit_pending(
    store: VersionedTable, pending: list[DataFrame], keys: list[str]
) -> None:
    """Commit the delta batches a sync run collected in ``pending``: the
    first batch creates a missing store, the rest MERGE with later batches
    winning on a shared key, in one lock/manifest round via
    :meth:`VersionedTable.upsert_many`."""
    if not pending:
        return
    batches = pending
    if not store.exists():
        store.create(batches[0])
        batches = batches[1:]
    if batches:
        store.upsert_many(batches, keys=keys)


def sync_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store: VersionedTable,
    pending: list[DataFrame],
) -> DataFrame:
    """Dedup one delta batch against the persisted fingerprint store and
    the uncommitted earlier deltas in ``pending``, append the batch's
    fingerprints to ``pending``, and return per-doc verdicts
    ``(doc_id, exact_dup, near_dup, keep)``. The caller ends the sync run
    with ONE :func:`commit_pending` (a MERGE-upsert on ``doc_id``,
    idempotent under re-sync).

    The prior pool is store + pending: the rows the store would hold had
    the deltas been committed, read from their in-memory checkpoints
    instead of a parquet round-trip, so verdicts do not depend on when the
    commit happens. The batch's fingerprints are localCheckpoint'd once:
    they feed the store join, the within-batch join, and the commit —
    without the checkpoint the shingle/minhash pipeline (the dominant
    cost) would run three times."""
    fp = fingerprint_batch(batch_docs).localCheckpoint(eager=True)

    # everything seen so far that may outrank a batch doc: the store
    # (strictly earlier syncs) plus this batch itself (within-batch dups);
    # the doc_id < filter makes double-listing harmless and the verdicts
    # batching-invariant
    pool = fp
    for earlier in pending:
        pool = pool.unionByName(earlier)
    if store.exists():
        pool = pool.unionByName(store.read())
    prior = pool.select(
        F.col("doc_id").alias("prior_id"),
        F.col("h_exact").alias("prior_h"),
        F.col("sig").alias("prior_sig"),
        "bands",
    )

    # exact dups: equi-join on the 128-bit content hash, ids only
    ex_ids = (
        fp.select("doc_id", "h_exact")
        .hint("shuffle_hash")
        .join(prior.select("prior_id", F.col("prior_h").alias("h_exact")),
              "h_exact")
        .filter(F.col("prior_id") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("exact_dup", F.lit(True))
    )

    # near dups: band equi-join (delta side vs store-plus-batch side),
    # signature agreement scored AFTER the join behind a per-doc aggregate
    bb = fp.select(
        "doc_id", "sig", F.posexplode("bands").alias("b", "bh")
    )
    pb = prior.select(
        "prior_id", "prior_sig", F.posexplode("bands").alias("b", "bh")
    )
    near_ids = (
        bb.hint("shuffle_hash")
        .join(pb, ["b", "bh"])
        .filter(F.col("prior_id") < F.col("doc_id"))
        .select("doc_id", n_agree("sig", "prior_sig").alias("n_eq"))
        .groupBy("doc_id")
        .agg(F.max("n_eq").alias("n_eq"))
        .filter(F.col("n_eq") >= AGREE_MIN)
        .select("doc_id")
        .withColumn("near_dup", F.lit(True))
    )

    verdicts = (
        fp.select("doc_id")
        .join(ex_ids, "doc_id", "left")
        .join(near_ids, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
        )
        .withColumn(
            "keep", ~F.col("exact_dup") & ~F.col("near_dup")
        )
    )

    pending.append(fp)
    return verdicts


@query(
    "dedup_incremental_minhash",
    family="dedup",
    bench=True,
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
        near AS (
          SELECT DISTINCT l.doc_id
          FROM bands l JOIN bands r ON l.b = r.b AND l.bh = r.bh
                                   AND r.doc_id < l.doc_id
          JOIN mh ma ON ma.doc_id = l.doc_id
          JOIN mh mb ON mb.doc_id = r.doc_id
          WHERE len(list_filter(range(1, {N_HASHES} + 1),
                                i -> ma.sig[i] = mb.sig[i])) >= {AGREE_MIN}
        ),
        exact AS (
          SELECT DISTINCT d.doc_id
          FROM documents d
          JOIN documents e ON md5(e.text) = md5(d.text)
                          AND e.doc_id < d.doc_id
        )
        SELECT d.doc_id,
               (x.doc_id IS NOT NULL) AS exact_dup,
               (n.doc_id IS NOT NULL) AS near_dup,
               (x.doc_id IS NULL AND n.doc_id IS NULL) AS keep
        FROM documents d
        LEFT JOIN exact x ON x.doc_id = d.doc_id
        LEFT JOIN near n ON n.doc_id = d.doc_id
        ORDER BY d.doc_id
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup, END TO END through the REAL machinery:
    the corpus arrives as three crawl batches (contiguous ``doc_id``
    ranges — the arrival-order simulation; production batches are just
    "today's crawl"), each batch is fingerprinted, deduped against the
    persisted signature store via band equi-joins, and MERGE-committed
    into the store — the store is never rescanned. The oracle is the
    batch twin: the same smaller-id-wins verdicts computed relationally
    over the whole corpus in one pass, which equals the incremental
    result BECAUSE the dup rule is batching-invariant (module
    docstring). Exact-string parity here is therefore an equivalence
    proof of the incremental path against a full rescan, re-checked by
    the external driver every round it's sampled."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    store = VersionedTable(
        spark, scratch_dir("sig_store_")
    )
    # per-batch verdicts come from the identical prior pool (earlier deltas
    # ride their in-memory checkpoints instead of a store re-read), then
    # the whole run commits in ONE multi-batch MERGE
    pending: list[DataFrame] = []
    verdicts = None
    for batch in arrival_batches(d, "doc_id"):
        v = sync_batch(spark, batch, store, pending=pending)
        verdicts = v if verdicts is None else verdicts.unionByName(v)
    commit_pending(store, pending, keys=["doc_id"])
    return verdicts.orderBy("doc_id")


# -- incremental SEMANTIC dedup (r11) ----------------------------------------
#
# The embedding twin of dedup_incremental_minhash: SemDeDup-style
# within-cell cosine dedup of each NEW crawl batch against the corpus seen
# so far, without ever re-pairing the existing corpus against itself. Same
# batching-invariance argument as the minhash store (module docstring):
# crawl ids are monotone and batches are contiguous id ranges, so by the
# time doc u syncs, EVERY smaller-id doc is in the store or earlier in u's
# own batch — the smaller-id-wins verdict over (store + batch) equals the
# full-rescan verdict, which is exactly what the oracle recomputes.


def _sem_sync_batch(spark, batch, assign, store, pending):
    """One semantic-dedup sync: BLAS-assign the delta to its fixed cell
    with ``assign`` (:func:`similarity._ivf_assigner`),
    GEMM-prefilter each cell in delta mode (:func:`gemm_pairs` with
    ``delta_col`` — only delta rows are scored, so store-vs-store pairs are
    never re-scored), exact-rerank the candidates
    (:func:`similarity.exact_rerank`), and return (vec_id, exemplar)
    verdicts. As in :func:`sync_batch`, earlier deltas' checkpointed rows in
    ``pending`` stand in for their uncommitted store versions, the delta is
    appended to ``pending``, and the caller commits via
    :func:`commit_pending`."""
    assigned = (
        assign(batch)
        .filter(F.col("cr") == 1)
        .select("vec_id", "cell", "embedding", "nrm")
        .localCheckpoint(eager=True)  # feeds the pool, the rerank, the MERGE
    )
    pool = assigned.withColumn("is_delta", F.lit(True))
    prior = pending + ([store.read()] if store.exists() else [])
    for earlier in prior:
        pool = pool.unionByName(earlier.withColumn("is_delta", F.lit(False)))
    cand = gemm_pairs(pool, ["cell"], SEMDEDUP_TAU, delta_col="is_delta")
    agg = (
        exact_rerank(pool, cand, SEMDEDUP_TAU)
        .groupBy("b")
        .agg(F.min("a").cast("bigint").alias("exemplar"))
    )
    verdicts = (
        assigned.select("vec_id")
        .join(agg.withColumnRenamed("b", "vec_id"), "vec_id", "left")
        .select("vec_id", "exemplar")
    )
    pending.append(assigned)
    return verdicts


@query(
    "dedup_incremental_semantic",
    family="dedup",
    bench=True,  # sf1 standalone before wiring in: 9.7/8.1 s warm (r11)
    oracle=f"""
        WITH n AS (
          SELECT vec_id, embedding, {_sql_norm('embedding')} AS nrm
          FROM embeddings
        ),
        cent AS (
          SELECT vec_id AS cell, embedding AS c_emb, nrm AS c_nrm
          FROM n WHERE vec_id % {SEMDEDUP_STRIDE} = 0
        ),
        assign AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
                 row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_sql_dot('v.embedding', 'c.c_emb')} / (v.nrm * c.c_nrm) DESC, c.cell
                 ) AS cr
          FROM n v CROSS JOIN cent c
        ),
        members AS (
          SELECT vec_id, embedding, nrm, cell FROM assign WHERE cr = 1
        ),
        pairs AS (
          SELECT b.vec_id AS u, a.vec_id AS v
          FROM members a JOIN members b
            ON b.cell = a.cell AND a.vec_id < b.vec_id
          WHERE {_sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= {SEMDEDUP_TAU}
        ),
        agg AS (
          SELECT u AS vec_id, CAST(min(v) AS BIGINT) AS exemplar
          FROM pairs GROUP BY u
        )
        SELECT n.vec_id,
               a.exemplar IS NOT NULL AS near_dup,
               a.exemplar IS NULL AS keep,
               a.exemplar
        FROM n LEFT JOIN agg a ON a.vec_id = n.vec_id
        ORDER BY n.vec_id
    """,
)
def dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup — the embedding twin of
    :func:`dedup_incremental_minhash`, completing the incremental trio
    (minhash store, IVF postings store, and now the semantic-dedup cell
    store): a 100 TB pipeline semantic-dedups each new crawl batch
    against the existing corpus WITHOUT re-pairing the corpus against
    itself. The cell codebook is fixed offline (the deterministic
    every-{SEMDEDUP_STRIDE}th-vector codebook shared with
    ``dedup_semantic_embedding`` — real deployments train k-means on an
    initial sample, same dataflow); three arrival batches (contiguous
    ``vec_id`` ranges) are each BLAS-assigned to their cell
    (:func:`similarity._ivf_assigner`, delta-only), GEMM-prefiltered
    against the cell's pool in delta mode (:func:`similarity.gemm_pairs`:
    delta rows x store+delta rows — store-vs-store pairs are never
    re-scored, the property that makes the sync cost O(delta x cell), not
    O(corpus x cell)), exact-reranked (:func:`similarity.exact_rerank`)
    at τ={SEMDEDUP_TAU}, and MERGE-upserted into a ``VersionedTable``
    (vec_id, cell, embedding, nrm) store. Verdict: ``near_dup`` iff some
    SMALLER-id doc in the same cell clears τ; ``exemplar`` is the
    smallest such id. Ids are monotone and batches are id-ordered, so
    every smaller-id doc is visible at sync time and the verdicts are
    batching-invariant — oracle parity against the one-pass full-rescan
    twin is therefore an incremental==rescan equivalence proof,
    re-checked externally every round it's sampled.

    Scale notes (100 TB): per-sync cost is O(delta x codebook) BLAS for
    assignment + delta-rows x cell GEMMs per touched cell (cell
    population is the knob, as in SemDeDup) + one narrow MERGE keyed on
    ``vec_id`` (file-pruned by footer ranges); only id-pairs leave
    Python, and the store is read via a cell equi-join, never re-paired."""
    e = widen(load(spark, sf_dir, "embeddings"))
    # r11 (guide §5): n feeds the percentile probe, the centroid slice and
    # all three delta batches — un-checkpointed, the 64-term norm
    # projection re-ran for every consumer. Materialize it once; the
    # codebook is collected and broadcast once for all three syncs.
    n = e.select(
        "vec_id", "embedding", _norm_arr("embedding").alias("nrm")
    ).localCheckpoint(eager=True)
    assign = _ivf_assigner(_codebook(n, SEMDEDUP_STRIDE))
    store = VersionedTable(spark, scratch_dir("sem_store_"))
    # one multi-batch MERGE per run, as in dedup_incremental_minhash
    pending: list[DataFrame] = []
    verdicts = None
    for batch in arrival_batches(n, "vec_id"):
        v = _sem_sync_batch(spark, batch, assign, store, pending=pending)
        verdicts = v if verdicts is None else verdicts.unionByName(v)
    commit_pending(store, pending, keys=["vec_id"])
    return verdicts.select(
        "vec_id",
        F.col("exemplar").isNotNull().alias("near_dup"),
        F.col("exemplar").isNull().alias("keep"),
        "exemplar",
    ).orderBy("vec_id")
