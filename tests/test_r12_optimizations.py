"""Focused pins for the r12 optimization internals.

These do not re-test query RESULTS (oracle parity and the family tests own
that); they pin the optimization MECHANISMS: the multi-batch
``upsert_many`` MERGE (equivalence to sequential upserts, per-batch dup
semantics, one-commit history, file pruning), the nondeterminism hardening
of the materialized-projection detector, and the deferred-commit
incremental sync mode's verdict/store equivalence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bfs_etl_sep2025_spark.plans.versioned import (
    VersionedTable,
    _is_materialized_projection,
)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=str)


def test_materialized_projection_rejects_nondeterministic(spark):
    """VERDICT r11 item 5: a nondeterministic projection over a
    checkpointed scan must NOT skip the pin-one-evaluation checkpoint —
    re-evaluating ``rand()`` yields different rows, the exact hazard the
    checkpoint exists to prevent."""
    ck = spark.range(10).selectExpr("id AS k").localCheckpoint(eager=True)
    assert _is_materialized_projection(ck.select("k"))
    assert not _is_materialized_projection(
        ck.select("k", (F.rand() * 10).alias("x"))
    )
    assert not _is_materialized_projection(
        ck.select("k", F.expr("uuid()").alias("u"))
    )


def _seq_twin(spark, tmp_path, name, base, batches, keys):
    """Reference result: N sequential upserts."""
    t = VersionedTable(spark, str(tmp_path / name))
    t.create(base)
    for b in batches:
        t.upsert(b, keys=keys)
    return t


def test_upsert_many_equals_sequential_upserts(spark, tmp_path):
    """Overlapping keys across batches: later batch wins, exactly as
    sequential MERGEs would leave the table; history records ONE commit."""
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id INT, v STRING"
    )
    b1 = spark.createDataFrame([(2, "b1"), (4, "d1")], "id INT, v STRING")
    b2 = spark.createDataFrame([(4, "d2"), (5, "e2")], "id INT, v STRING")
    b3 = spark.createDataFrame([(1, "a3"), (4, "d3")], "id INT, v STRING")

    seq = _seq_twin(spark, tmp_path, "seq", base, [b1, b2, b3], ["id"])

    t = VersionedTable(spark, str(tmp_path / "many"))
    t.create(base)
    t.upsert_many([b1, b2, b3], keys=["id"])
    assert _rows(t.read()) == _rows(seq.read())
    assert t.current_version() == 2  # one commit for the whole group
    assert t.history()[-1]["op"] == "upsert_many(3)"


def test_upsert_many_disjoint_ranges_equal_sequential(spark, tmp_path):
    """The disjoint-key-range shortcut (no window dedup) must be
    invisible: identical final rows."""
    base = spark.createDataFrame([(1, "a"), (9, "z")], "id INT, v STRING")
    b1 = spark.createDataFrame([(2, "b"), (3, "c")], "id INT, v STRING")
    b2 = spark.createDataFrame([(5, "e"), (6, "f")], "id INT, v STRING")
    seq = _seq_twin(spark, tmp_path, "seqd", base, [b1, b2], ["id"])
    t = VersionedTable(spark, str(tmp_path / "manyd"))
    t.create(base)
    t.upsert_many([b1, b2], keys=["id"])
    assert _rows(t.read()) == _rows(seq.read())


def test_upsert_many_per_batch_dup_raises(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "dup"))
    t.create(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    good = spark.createDataFrame([(2, "b")], "id INT, v STRING")
    bad = spark.createDataFrame([(3, "x"), (3, "y")], "id INT, v STRING")
    with pytest.raises(ValueError, match=r"source \[1\] has duplicate"):
        t.upsert_many([good, bad], keys=["id"])
    # nothing committed: the failed group leaves the table untouched
    assert t.current_version() == 1


def test_upsert_many_null_keys_accumulate_like_sequential(spark, tmp_path):
    """NULL keys never match in SQL joins: each batch's NULL-key row
    inserts — sequential upserts accumulate them, upsert_many must too."""
    base = spark.createDataFrame([(1, "a")], "id INT, v STRING")
    b1 = spark.createDataFrame([(None, "n1"), (2, "b")], "id INT, v STRING")
    b2 = spark.createDataFrame([(None, "n2"), (2, "b2")], "id INT, v STRING")
    seq = _seq_twin(spark, tmp_path, "seqn", base, [b1, b2], ["id"])
    t = VersionedTable(spark, str(tmp_path / "manyn"))
    t.create(base)
    t.upsert_many([b1, b2], keys=["id"])
    assert _rows(t.read()) == _rows(seq.read())
    # both NULL rows survived
    assert t.read().filter("id IS NULL").count() == 2


def test_upsert_many_prunes_untouched_dirs(spark, tmp_path):
    """Dirs whose footer key range overlaps NO batch's range are
    referenced unchanged in the new manifest — the same data-skipping as
    single upsert, decided per batch range."""
    t = VersionedTable(spark, str(tmp_path / "prune"))
    t.create(
        spark.createDataFrame(
            [(i, "lo") for i in range(10)], "id INT, v STRING"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(i, "hi") for i in range(100, 110)], "id INT, v STRING"
        ).coalesce(1)
    )
    lo_dirs = set(t._manifest(1)["dirs"])
    b1 = spark.createDataFrame([(100, "u1")], "id INT, v STRING")
    b2 = spark.createDataFrame([(105, "u2")], "id INT, v STRING")
    t.upsert_many([b1, b2], keys=["id"])
    m = t._manifest(t.current_version())
    # the low-range dir is untouched and referenced as-is
    assert lo_dirs <= set(m["dirs"])
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got[100] == "u1" and got[105] == "u2" and got[0] == "lo"
    assert len(got) == 20


def test_upsert_many_single_source_delegates(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "one"))
    t.create(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    t.upsert_many(
        [spark.createDataFrame([(1, "a2")], "id INT, v STRING")], keys=["id"]
    )
    assert t.history()[-1]["op"] == "upsert"
    assert _rows(t.read()) == [(1, "a2")]


def test_incremental_deferred_commit_equals_immediate(spark, tmp_path):
    """The deferred-commit sync mode (pending list + one multi-batch
    MERGE) must produce identical verdicts AND an identical final store
    to per-batch immediate commits."""
    from bfs_etl_sep2025_spark.operators.incremental import (
        commit_pending,
        sync_batch,
    )
    from bfs_etl_sep2025_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    t1, t2 = docs.agg(
        F.expr("percentile(doc_id, array(0.3333333333, 0.6666666666))")
    ).first()[0]
    parts = [
        docs.filter(F.col("doc_id") <= t1),
        docs.filter((F.col("doc_id") > t1) & (F.col("doc_id") <= t2)),
        docs.filter(F.col("doc_id") > t2),
    ]

    imm_store = VersionedTable(spark, str(tmp_path / "imm"))
    imm = [sync_batch(spark, b, imm_store) for b in parts]

    def_store = VersionedTable(spark, str(tmp_path / "deferred"))
    pending: list = []
    deferred = [
        sync_batch(spark, b, def_store, pending=pending) for b in parts
    ]
    commit_pending(def_store, pending, keys=["doc_id"])

    for a, b in zip(imm, deferred):
        assert _rows(a) == _rows(b)
    assert _rows(imm_store.read()) == _rows(def_store.read())
    # one create + ONE group commit instead of create + 2 upserts
    assert [h["op"] for h in def_store.history()] == [
        "create",
        "upsert_many(2)",
    ]
