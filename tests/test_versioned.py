"""Versioned-table layer: atomic commit, time travel, rollback, optimistic
concurrency, append-without-rewrite, MERGE-shaped mutations."""

from __future__ import annotations

import os

import pytest

from bfs_etl_sep2025_spark.plans.versioned import (
    ConcurrentWriteError,
    VersionedTable,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def vt(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING"))
    return t


def test_create_read_roundtrip(vt):
    assert vt.current_version() == 1
    assert _rows(vt.read()) == [(1, "a"), (2, "b")]


def test_append_references_old_dirs_without_rewrite(vt, spark):
    v1_dirs = vt._manifest(1)["dirs"]
    vt.append(spark.createDataFrame([(3, "c")], "id INT, v STRING"))
    m2 = vt._manifest(2)
    assert m2["op"] == "append"
    assert set(v1_dirs) <= set(m2["dirs"])  # old data referenced, not copied
    assert len(m2["dirs"]) == len(v1_dirs) + 1
    assert _rows(vt.read()) == [(1, "a"), (2, "b"), (3, "c")]


def test_time_travel_and_history(vt, spark):
    vt.overwrite(spark.createDataFrame([(9, "z")], "id INT, v STRING"))
    assert _rows(vt.read()) == [(9, "z")]
    assert _rows(vt.read(version=1)) == [(1, "a"), (2, "b")]
    ops = [h["op"] for h in vt.history()]
    assert ops == ["create", "overwrite"]


def test_rollback_restores_snapshot_linearly(vt, spark):
    vt.overwrite(spark.createDataFrame([(9, "z")], "id INT, v STRING"))
    v3 = vt.rollback(1)
    assert v3 == 3
    assert _rows(vt.read()) == [(1, "a"), (2, "b")]
    # history stays append-only: rollback is a new version, not an erasure
    assert [h["version"] for h in vt.history()] == [1, 2, 3]


def test_upsert_replaces_and_inserts(vt, spark):
    vt.upsert(
        spark.createDataFrame([(2, "B"), (3, "c")], "id INT, v STRING"),
        keys=["id"],
    )
    assert _rows(vt.read()) == [(1, "a"), (2, "B"), (3, "c")]
    # idempotent re-run of the same batch (the CDC replay case)
    vt.upsert(
        spark.createDataFrame([(2, "B"), (3, "c")], "id INT, v STRING"),
        keys=["id"],
    )
    assert _rows(vt.read()) == [(1, "a"), (2, "B"), (3, "c")]


def test_upsert_duplicate_source_raises(vt, spark):
    with pytest.raises(ValueError, match="nondeterministic MERGE"):
        vt.upsert(
            spark.createDataFrame(
                [(2, "x"), (2, "y")], "id INT, v STRING"
            ),
            keys=["id"],
        )


def test_delete_and_update_where(vt):
    vt.update_where("id = 1", {"v": "upper(v)"})
    vt.delete_where("id = 2")
    assert _rows(vt.read()) == [(1, "A")]
    # every mutation time-travels
    assert _rows(vt.read(version=1)) == [(1, "a"), (2, "b")]


def test_uncommitted_data_is_invisible(vt, spark):
    """A fully-written data directory without a manifest commit must not
    change what readers see — the atomicity the INSERT OVERWRITE path
    cannot give."""
    vt._write_data_dir(
        spark.createDataFrame([(99, "q")], "id INT, v STRING"), 2
    )
    assert vt.current_version() == 1
    assert _rows(vt.read()) == [(1, "a"), (2, "b")]


def test_optimistic_conflict_raises(vt, spark):
    """Two writers based on the same parent: the second commit of v2 must
    raise, never clobber."""
    d1 = vt._write_data_dir(
        spark.createDataFrame([(10, "x")], "id INT, v STRING"), 2
    )
    d2 = vt._write_data_dir(
        spark.createDataFrame([(11, "y")], "id INT, v STRING"), 2
    )
    vt._commit(2, 1, [d1], "overwrite")
    with pytest.raises(ConcurrentWriteError):
        vt._commit(2, 1, [d2], "overwrite")
    assert _rows(vt.read()) == [(10, "x")]  # winner intact


def test_vacuum_bounds_history(vt, spark):
    for i in range(3, 6):
        vt.overwrite(
            spark.createDataFrame([(i, "v")], "id INT, v STRING")
        )
    removed = vt.vacuum(keep_last=2)
    assert removed  # something old was reclaimed
    # head is v4 (create + overwrites for i=3,4,5); kept window is {v3, v4}
    assert _rows(vt.read()) == [(5, "v")]  # head untouched
    assert _rows(vt.read(version=3)) == [(4, "v")]  # kept window travels
    remaining = set(os.listdir(vt._data))
    assert not (set(vt._manifest(4)["dirs"]) - remaining)


@pytest.mark.slow
def test_streaming_cdc_upsert_into_versioned_table(spark, tmp_path):
    """foreachBatch + VersionedTable.upsert: the CDC sink with time travel.
    Each micro-batch commits one atomic version; a replayed batch of the
    same keys converges (idempotent); every pre-batch state remains
    readable — the property the plain INSERT OVERWRITE sink cannot give."""
    from datetime import datetime

    from pyspark.sql import functions as F

    schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    vt = VersionedTable(spark, str(tmp_path / "user_latest"))
    vt.create(
        spark.createDataFrame([], "user_id BIGINT, ts TIMESTAMP_NTZ, value DOUBLE")
    )

    def sink(batch_df, epoch_id):
        latest = (
            batch_df.groupBy("user_id")
            .agg(F.max_by(F.struct("ts", "value"), "ts").alias("s"))
            .select("user_id", "s.ts", "s.value")
        )
        if latest.isEmpty():
            return
        vt.upsert(latest, keys=["user_id"])

    def drain():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def rows(vals):
        return [
            (i, datetime(2024, 1, 1, h, 0), u, "click", v, "{}")
            for i, (u, h, v) in enumerate(vals)
        ]

    # batch 1: users 1,2
    spark.createDataFrame(rows([(1, 10, 1.0), (2, 10, 2.0)]), schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    drain()
    assert _rows(vt.read().select("user_id", "value")) == [(1, 1.0), (2, 2.0)]
    v_after_b1 = vt.current_version()

    # batch 2: user 1 updated, user 3 inserted
    spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 11, 0), 1, "click", 9.0, "{}"),
            (11, datetime(2024, 1, 1, 11, 0), 3, "click", 3.0, "{}"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    assert _rows(vt.read().select("user_id", "value")) == [
        (1, 9.0),
        (2, 2.0),
        (3, 3.0),
    ]
    # checkpoint makes a replayed drain a no-op (no new files, no new version)
    head = vt.current_version()
    drain()
    assert vt.current_version() == head
    # time travel back to the post-batch-1 state
    assert _rows(vt.read(version=v_after_b1).select("user_id", "value")) == [
        (1, 1.0),
        (2, 2.0),
    ]


@pytest.mark.slow
def test_versioned_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check: random append/upsert/delete/rollback sequences
    against a pure-Python dict model — every intermediate version must
    remain time-travel-readable and the head must equal the model."""
    import random

    rng = random.Random(20260814)
    vt = VersionedTable(spark, str(tmp_path / "model_tbl"))
    vt.create(spark.createDataFrame([(0, 0)], "id INT, v INT"))
    model: dict[int, int] = {0: 0}
    snapshots = {1: dict(model)}

    def df_of(pairs):
        return spark.createDataFrame(list(pairs), "id INT, v INT")

    for step in range(14):
        op = rng.choice(["append", "upsert", "delete", "rollback"])
        if op == "append":
            new = [(rng.randrange(100, 200) + step * 1000, step)]
            vt.append(df_of(new))
            model.update(dict(new))
        elif op == "upsert":
            keys = rng.sample(sorted(model) or [0], k=min(2, len(model)))
            src = [(k, step) for k in keys] + [(step * 1000 + 999, step)]
            vt.upsert(df_of(src), keys=["id"])
            model.update(dict(src))
        elif op == "delete":
            if not model:
                continue
            victim = rng.choice(sorted(model))
            vt.delete_where(f"id = {victim}")
            model.pop(victim, None)
        else:
            target = rng.choice(sorted(snapshots))
            vt.rollback(target)
            model = dict(snapshots[target])
        snapshots[vt.current_version()] = dict(model)

    assert _rows(vt.read()) == sorted(model.items())
    for v, snap in snapshots.items():
        assert _rows(vt.read(version=v)) == sorted(snap.items()), v

    # CDF invariant: replaying changes(v-1, v) over snapshot v-1 must
    # reconstruct snapshot v, for EVERY committed step (multiset algebra:
    # rows(v) == rows(v-1) - deletes + inserts)
    from collections import Counter

    for v in range(2, vt.current_version() + 1):
        prev = Counter(_rows(vt.read(version=v - 1)))
        feed = vt.changes(v - 1, v).collect()
        for r in feed:
            key = (r["id"], r["v"])
            if r["_change_type"] == "delete":
                assert prev[key] > 0, (v, key, "delete of absent row")
                prev[key] -= 1
            else:
                prev[key] += 1
        got = sorted(k for k, n in prev.items() for _ in range(n))
        assert got == _rows(vt.read(version=v)), v


# -- multi-process contention (VERDICT r5 item 4) ---------------------------
#
# The in-process table_write_lock serializes threads; ACROSS processes the
# only protection is the commit protocol itself (the manifest body written
# to a temp name, then linked to v<N>.json: create-if-absent, and the
# link is the commit point). Worker processes race real append
# commits against each other — no coordination beyond the protocol — and
# module-level so multiprocessing's spawn start method can pickle it
# (spawn, not fork: the parent holds a live JVM).


def _contend_appends(root: str, seed_dir: str, n_wins: int, out_q) -> None:
    import shutil
    import uuid

    from bfs_etl_sep2025_spark.plans.versioned import (
        ConcurrentWriteError,
        VersionedTable,
    )

    vt = VersionedTable(None, root)  # filesystem protocol only, no Spark
    won: list[str] = []
    conflicts = 0
    try:
        for _ in range(n_wins):
            while True:
                parent = vt.current_version()
                dirname = f"v{parent + 1:05d}-{uuid.uuid4().hex[:8]}"
                # real immutable data dir: copy of the seed snapshot's files
                shutil.copytree(
                    seed_dir, os.path.join(root, "data", dirname)
                )
                dirs = vt._manifest(parent)["dirs"] + [dirname]
                try:
                    vt._commit(parent + 1, parent, dirs, "append")
                    won.append(dirname)
                    break
                except ConcurrentWriteError:
                    conflicts += 1  # lost the race: re-read head, retry
        out_q.put(("ok", won, conflicts))
    except Exception as exc:  # pragma: no cover - failure reporting
        out_q.put(("err", repr(exc), conflicts))


def test_multiprocess_commit_contention(spark, tmp_path):
    """Two independent PROCESSES each drive N append commits through the
    optimistic protocol: exactly one writer wins each version, losers see
    ConcurrentWriteError and retry cleanly, and the final snapshot contains
    every winner's data — no lost updates, linear history."""
    import multiprocessing as mp

    root = str(tmp_path / "contend")
    vt = VersionedTable(spark, root)
    vt.create(spark.createDataFrame([(0, "seed")], "id INT, v STRING"))
    seed_dir = os.path.join(root, "data", vt._manifest(1)["dirs"][0])

    n_wins = 4
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_contend_appends, args=(root, seed_dir, n_wins, q))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(timeout=120)
    assert all(r[0] == "ok" for r in results), results

    all_won = [d for r in results for d in r[1]]
    assert len(all_won) == 2 * n_wins
    assert len(set(all_won)) == 2 * n_wins  # no version double-claimed
    # linear history: v1..v(1+2N), every parent pointer = version - 1
    hist = vt.history()
    assert [h["version"] for h in hist] == list(range(1, 2 * n_wins + 2))
    assert all(h["parent"] == h["version"] - 1 for h in hist)
    assert vt.current_version() == 2 * n_wins + 1
    # no lost snapshot: the head manifest references every winner's dir,
    # and a real Spark read sees one seed row per committed append + create
    head_dirs = vt._manifest(vt.current_version())["dirs"]
    assert set(all_won) <= set(head_dirs)
    assert len(head_dirs) == 2 * n_wins + 1
    assert vt.read().count() == 2 * n_wins + 1



# -- crash safety: a writer killed mid-commit never blocks the next one ----


def _crash_commit(root: str, seed_dir: str, point: str) -> None:
    """Spawned child: start an append commit and die at ``point`` with no
    cleanup at all (``os._exit`` skips ``finally`` blocks and atexit)."""
    import shutil
    import uuid

    from bfs_etl_sep2025_spark.plans.versioned import VersionedTable

    vt = VersionedTable(None, root)  # filesystem protocol only, no Spark
    parent = vt.current_version()
    dirname = f"v{parent + 1:05d}-{uuid.uuid4().hex[:8]}"
    shutil.copytree(seed_dir, os.path.join(root, "data", dirname))
    if point == "after_data":
        os._exit(17)
    # in_manifest_fsync: the only fsync of a commit is the manifest body's
    os.fsync = lambda fd: os._exit(17)
    dirs = vt._manifest(parent)["dirs"] + [dirname]
    vt._commit(parent + 1, parent, dirs, "append")
    os._exit(0)  # not reached


@pytest.mark.parametrize("point", ["after_data", "in_manifest_fsync"])
def test_crashed_writer_never_blocks_the_next(spark, tmp_path, point):
    import multiprocessing as mp
    import time

    root = str(tmp_path / "crash")
    vt = VersionedTable(spark, root)
    vt.create(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING"))
    seed_dir = os.path.join(root, "data", vt._manifest(1)["dirs"][0])
    p = mp.get_context("spawn").Process(
        target=_crash_commit, args=(root, seed_dir, point)
    )
    p.start()
    p.join(timeout=120)
    assert p.exitcode == 17

    # readers still see the old snapshot, and only committed versions
    assert vt.current_version() == 1
    assert [h["version"] for h in vt.history()] == [1]
    assert vt.version_at(time.time_ns() // 1000) == 1
    assert _rows(vt.read()) == [(1, "a"), (2, "b")]
    # the next writer commits v2 over the crashed writer's debris
    new_rows = spark.createDataFrame([(3, "c")], "id INT, v STRING")
    assert vt.append(new_rows) == 2
    assert [h["version"] for h in vt.history()] == [1, 2]
    assert vt.version_at(time.time_ns() // 1000) == vt.current_version() == 2
    assert _rows(vt.read()) == [(1, "a"), (2, "b"), (3, "c")]


def _crash_vacuum(root: str) -> None:
    """Spawned child: vacuum, dying right after its first ``rmtree``."""
    import shutil

    from bfs_etl_sep2025_spark.plans.versioned import VersionedTable

    rmtree = shutil.rmtree

    def rmtree_then_die(path, *a, **kw):
        rmtree(path, *a, **kw)
        os._exit(17)

    shutil.rmtree = rmtree_then_die
    VersionedTable(None, root).vacuum(keep_last=2)
    os._exit(0)  # not reached


def test_crash_mid_vacuum_keeps_every_kept_version(spark, tmp_path):
    """A vacuum killed between two directory deletions leaves every version
    it keeps readable, and the next vacuum finishes the job."""
    import multiprocessing as mp

    root = str(tmp_path / "vac")
    vt = VersionedTable(spark, root)
    vt.create(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    for i in (2, 3, 4):
        vt.overwrite(spark.createDataFrame([(i, "x")], "id INT, v STRING"))
    before = sorted(os.listdir(os.path.join(root, "data")))
    p = mp.get_context("spawn").Process(target=_crash_vacuum, args=(root,))
    p.start()
    p.join(timeout=120)
    assert p.exitcode == 17

    assert len(os.listdir(os.path.join(root, "data"))) == len(before) - 1
    assert [_rows(vt.read(v)) for v in (3, 4)] == [[(3, "x")], [(4, "x")]]
    assert len(vt.vacuum(keep_last=2)) == 1
    assert sorted(os.listdir(os.path.join(root, "data"))) == before[2:]
    assert [_rows(vt.read(v)) for v in (3, 4)] == [[(3, "x")], [(4, "x")]]


def test_head_orders_versions_by_number(tmp_path):
    """v{N:05d} grows a sixth digit at 100000: the head, history and time
    travel must order manifests by number, not by name."""
    import time

    vt = VersionedTable(None, str(tmp_path / "long"))  # no Spark needed
    vt._commit(99999, 0, [], "append")
    vt._commit(100000, 99999, [], "append")
    assert vt.current_version() == 100000
    assert [h["version"] for h in vt.history()] == [99999, 100000]
    assert vt.version_at(time.time_ns() // 1000) == 100000


def test_vacuum_spares_in_flight_writer(vt, spark):
    """A dir named for a version above the head may belong to a writer in
    another process that has not committed yet: vacuum keeps it. An
    unreferenced dir at or below the head can never commit: reclaimed."""
    head = vt.current_version()
    orphan = vt._write_data_dir(
        spark.createDataFrame([(8, "o")], "id INT, v STRING"), head
    )
    in_flight = vt._write_data_dir(
        spark.createDataFrame([(9, "p")], "id INT, v STRING"), head + 1
    )
    removed = vt.vacuum()
    assert orphan in removed and in_flight not in removed
    dirs = vt._manifest(head)["dirs"] + [in_flight]
    vt._commit(head + 1, head, dirs, "append")
    assert _rows(vt.read()) == [(1, "a"), (2, "b"), (9, "p")]


# batches per shape; the table starts as {1: a, 2: b, 10: c}
_UPSERT_BATCHES = {
    # pairwise-disjoint batch key ranges, still replacing existing rows
    "disjoint": [[(1, "x"), (4, "y")], [(10, "p")], [(30, "q"), (31, "r")]],
    # overlapping ranges: a later batch wins on a shared key
    "overlap": [
        [(1, "x"), (3, "y")], [(3, "z"), (2, "w")], [(1, "u"), (10, "v")]
    ],
    # NULL keys never match, so each one inserts; an empty batch is a no-op
    "null_and_empty": [[(None, "n1"), (2, "x")], [], [(None, "n2"), (2, "y")]],
}


@pytest.mark.parametrize("shape", sorted(_UPSERT_BATCHES))
@pytest.mark.parametrize("n", [1, 2, 3])
def test_upsert_and_upsert_many_match_python_model(spark, tmp_path, n, shape):
    """``upsert`` is the one-source case of ``upsert_many``, so neither
    can serve as the other's reference: both are checked against a
    plain-Python MERGE — later batch wins per non-NULL key, NULL-key rows
    accumulate."""
    schema = "id INT, v STRING"
    base = [(1, "a"), (2, "b"), (10, "c")]
    batches = _UPSERT_BATCHES[shape][:n]
    want = base
    for batch in batches:
        keys = {k for k, _ in batch if k is not None}
        want = [r for r in want if r[0] not in keys] + batch

    def table(name):
        t = VersionedTable(spark, str(tmp_path / name))
        t.create(spark.createDataFrame(base, schema))
        return t

    seq = table("seq")
    for batch in batches:
        seq.upsert(spark.createDataFrame(batch, schema), keys=["id"])
    many = table("many")
    many.upsert_many(
        [spark.createDataFrame(b, schema) for b in batches], keys=["id"]
    )
    for t in (seq, many):
        assert sorted(map(tuple, t.read().collect()), key=repr) == sorted(
            want, key=repr
        )
    assert [h["op"] for h in seq.history()] == ["create"] + ["upsert"] * n
    assert [h["op"] for h in many.history()] == [
        "create",
        "upsert" if n == 1 else f"upsert_many({n})",
    ]

# -- upsert_many and deferred incremental commits -------------------------


def _rows_any(df):
    """``_rows`` for tables that may hold NULL keys."""
    return sorted((tuple(r) for r in df.collect()), key=str)


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
    assert _rows_any(t.read()) == _rows_any(seq.read())
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
    assert _rows_any(t.read()) == _rows_any(seq.read())


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
    assert _rows_any(t.read()) == _rows_any(seq.read())
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
    assert _rows_any(t.read()) == [(1, "a2")]


def test_incremental_deferred_commit_equals_immediate(spark, tmp_path):
    """One group commit of a whole sync run (pending list + one
    multi-batch MERGE) must produce identical verdicts AND an identical
    final store to a sync + commit per batch."""
    from pyspark.sql import functions as F

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
    imm = []
    for b in parts:
        one: list = []
        imm.append(sync_batch(spark, b, imm_store, pending=one))
        commit_pending(imm_store, one, keys=["doc_id"])

    def_store = VersionedTable(spark, str(tmp_path / "deferred"))
    pending: list = []
    deferred = [
        sync_batch(spark, b, def_store, pending=pending) for b in parts
    ]
    commit_pending(def_store, pending, keys=["doc_id"])

    for a, b in zip(imm, deferred):
        assert _rows_any(a) == _rows_any(b)
    assert _rows_any(imm_store.read()) == _rows_any(def_store.read())
    # one create + ONE group commit instead of create + 2 upserts
    assert [h["op"] for h in def_store.history()] == [
        "create",
        "upsert_many(2)",
    ]


def test_upsert_prunes_disjoint_dirs(spark, tmp_path):
    """Delta-style MERGE file pruning at dir granularity: a data dir whose
    footer-stats key range cannot overlap the source is referenced
    unchanged in the new manifest — never read, never rewritten."""
    vt = VersionedTable(spark, str(tmp_path / "pruned"))
    vt.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id INT, v STRING"
        )
    )
    vt.append(
        spark.createDataFrame(
            [(1000, "k"), (1001, "l"), (1002, "m")], "id INT, v STRING"
        )
    )
    before = vt._manifest(vt.current_version())["dirs"]
    vt.upsert(
        spark.createDataFrame([(1001, "L"), (2000, "n")], "id INT, v STRING"),
        ["id"],
    )
    after = vt._manifest(vt.current_version())["dirs"]
    # the low-range dir (ids 1-3, disjoint from source 1001-2000) survives
    # BY REFERENCE; the overlapping dir was rewritten out
    assert before[0] in after
    assert before[1] not in after
    assert len(after) == 2
    rows = _rows(vt.read())
    assert rows == [
        (1, "a"), (2, "b"), (3, "c"),
        (1000, "k"), (1001, "L"), (1002, "m"), (2000, "n"),
    ]
    # time travel to the pre-upsert snapshot still sees the old row
    assert (1001, "l") in _rows(vt.read(version=2))


def test_upsert_empty_source_touches_nothing(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "emptyup"))
    vt.create(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    before = vt._manifest(vt.current_version())["dirs"]
    vt.upsert(
        spark.createDataFrame([], "id INT, v STRING"), ["id"]
    )
    after = vt._manifest(vt.current_version())["dirs"]
    assert set(before) <= set(after)  # nothing rewritten
    assert _rows(vt.read()) == [(1, "a")]


def test_delete_update_prune_untouched_dirs(spark, tmp_path):
    """delete_where / update_where rewrite ONLY dirs containing a matching
    row (one pushdown probe scan finds them); every other dir is referenced
    unchanged in the new manifest — the Delta data-skipping behavior."""
    vt = VersionedTable(spark, str(tmp_path / "dml_prune"))
    vt.create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    )
    vt.append(
        spark.createDataFrame([(100, "x"), (101, "y")], "id INT, v STRING")
    )
    dirs_v2 = vt._manifest(vt.current_version())["dirs"]

    vt.delete_where("id = 100")
    dirs_v3 = vt._manifest(vt.current_version())["dirs"]
    assert dirs_v2[0] in dirs_v3  # low dir untouched, by reference
    assert dirs_v2[1] not in dirs_v3  # hit dir rewritten out
    assert _rows(vt.read()) == [(1, "a"), (2, "b"), (101, "y")]

    vt.update_where("id = 1", {"v": "upper(v)"})
    dirs_v4 = vt._manifest(vt.current_version())["dirs"]
    assert all(d in dirs_v4 for d in dirs_v3 if d != dirs_v2[0])
    assert dirs_v2[0] not in dirs_v4
    assert _rows(vt.read()) == [(1, "A"), (2, "b"), (101, "y")]
    # time travel still sees every pre-mutation snapshot
    assert _rows(vt.read(version=2)) == [
        (1, "a"), (2, "b"), (100, "x"), (101, "y")
    ]


def test_delete_where_null_condition_keeps_rows(spark, tmp_path):
    """SQL three-valued logic: DELETE WHERE c removes only c=TRUE rows;
    NULL-condition rows survive (filter(~c) would silently drop them)."""
    vt = VersionedTable(spark, str(tmp_path / "dml_null"))
    vt.create(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "id INT, x INT"
        )
    )
    vt.delete_where("x > 20")
    assert _rows(vt.read()) == [(1, 10), (2, None)]


def test_delete_where_no_match_is_metadata_only(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "dml_nomatch"))
    vt.create(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    before = vt._manifest(vt.current_version())["dirs"]
    vt.delete_where("id = 999")
    after = vt._manifest(vt.current_version())["dirs"]
    assert after == before  # same dirs, new version: audit-only commit
    assert vt.history()[-1]["op"] == "delete"
    assert _rows(vt.read()) == [(1, "a")]


def test_optimize_compacts_and_preserves_data(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "opt"))
    vt.create(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    for i in range(2, 5):
        vt.append(
            spark.createDataFrame([(i, chr(96 + i))], "id INT, v STRING")
        )
    assert len(vt._manifest(vt.current_version())["dirs"]) == 4
    vt.optimize()
    assert len(vt._manifest(vt.current_version())["dirs"]) == 1
    assert vt.history()[-1]["op"] == "optimize"
    assert _rows(vt.read()) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # pre-optimize snapshot still time-travels
    assert _rows(vt.read(version=2)) == [(1, "a"), (2, "b")]


def test_optimize_cluster_makes_pruning_bite(spark, tmp_path):
    """Range clustering rewrites the table into one dir per key bucket
    with DISJOINT footer-stats ranges — after which a narrow CDC upsert
    rewrites exactly one bucket and references the rest unchanged."""
    vt = VersionedTable(spark, str(tmp_path / "optc"))
    # interleaved key ranges: every dir overlaps every key before optimize
    vt.create(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(0, 100, 2)], "id INT, v STRING"
        )
    )
    vt.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(1, 100, 2)], "id INT, v STRING"
        )
    )
    vt.optimize(sort_by=["id"], n_buckets=4)
    dirs = vt._manifest(vt.current_version())["dirs"]
    assert len(dirs) >= 2 and all("/_obkt=" in d for d in dirs)
    ranges = [vt._key_range(d, "id") for d in dirs]
    assert all(lo is not None for lo, _ in ranges)
    ordered = sorted(ranges)
    assert all(
        ordered[i][1] < ordered[i + 1][0] for i in range(len(ordered) - 1)
    ), f"bucket ranges overlap: {ordered}"
    assert vt.read().count() == 100

    before = set(dirs)
    vt.upsert(
        spark.createDataFrame([(3, "UP")], "id INT, v STRING"), ["id"]
    )
    after = vt._manifest(vt.current_version())["dirs"]
    # every bucket except the one containing id=3 survives by reference
    assert len(before & set(after)) == len(before) - 1
    got = dict((r["id"], r["v"]) for r in vt.read().collect())
    assert got[3] == "UP" and len(got) == 100

    # delete probe also resolves nested dirs correctly
    vt.delete_where("id = 98")
    after2 = vt._manifest(vt.current_version())["dirs"]
    assert len(set(after) & set(after2)) == len(after) - 1
    assert vt.read().count() == 99


def test_vacuum_keeps_live_nested_dirs(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "optv"))
    vt.create(
        spark.createDataFrame(
            [(i, "x") for i in range(20)], "id INT, v STRING"
        )
    )
    vt.optimize(sort_by=["id"], n_buckets=2)
    vt.append(spark.createDataFrame([(100, "y")], "id INT, v STRING"))
    removed = vt.vacuum(keep_last=2)  # head + optimize snapshot stay live
    assert all("_obkt" not in d for d in removed)
    assert vt.read().count() == 21


@pytest.mark.slow
def test_cdc_sink_auto_optimize(spark, tmp_path):
    """The library CDC sink upserts every micro-batch and runs OPTIMIZE
    after every N — so a drained stream leaves a compacted, range-
    clustered table instead of one small dir per batch."""
    schema = "id BIGINT, v STRING"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    vt = VersionedTable(spark, str(tmp_path / "cdc_opt"))
    vt.create(spark.createDataFrame([], schema))
    sink = vt.cdc_sink(
        keys=["id"], optimize_every=2, sort_by=["id"], n_buckets=2
    )
    for lo in (0, 100, 200, 300):
        spark.createDataFrame(
            [(lo + i, f"r{lo + i}") for i in range(5)], schema
        ).coalesce(1).write.mode("append").parquet(src)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = [h["op"] for h in vt.history()]
    assert ops.count("upsert") == 4
    assert ops.count("optimize") == 2
    assert ops[-1] == "optimize"  # 4 batches, every 2 -> ends compacted
    assert vt.read().count() == 20
    dirs = vt._manifest(vt.current_version())["dirs"]
    assert all("/_obkt=" in d for d in dirs)  # range-clustered head
    # clustered ranges are disjoint -> a narrow upsert prunes
    lows = [vt._key_range(d, "id") for d in dirs]
    srt = sorted(lows)
    assert all(srt[i][1] < srt[i + 1][0] for i in range(len(srt) - 1))


# -- model-based property test ----------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_OPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("upsert"),
            st.lists(
                st.tuples(st.integers(0, 15), st.integers(0, 99)),
                min_size=1,
                max_size=4,
                unique_by=lambda t: t[0],
            ),
        ),
        st.tuples(
            st.just("delete"),
            st.lists(st.integers(0, 15), min_size=1, max_size=4, unique=True),
        ),
        st.tuples(st.just("optimize"), st.booleans()),
        st.tuples(st.just("rollback"), st.integers(0, 100)),
        st.tuples(
            st.just("evolve_append"),
            st.lists(
                st.tuples(st.integers(16, 31), st.integers(0, 99)),
                min_size=1,
                max_size=3,
                unique_by=lambda t: t[0],
            ),
        ),
    ),
    min_size=1,
    max_size=7,
)


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(ops=_OPS)
def test_versioned_model_based(spark, ops):
    """Random mutation programs against an in-memory MULTISET model: after
    every commit the table reads back exactly the model state, rollback
    restores any earlier model snapshot, and optimize never changes data.
    The model is a list of (id, v) rows, not a dict — append is
    append-only, so a program that evolve-appends an id twice legitimately
    holds two rows for it (a dict model collapsed those
    nondeterministically and flaked; caught by a full-suite run this
    round). upsert/delete replace/remove EVERY row with a matching key.
    This is the commit protocol's behavioral spec, not one hand-picked
    scenario."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="vt_model_")
    try:
        vt = VersionedTable(spark, root)
        vt.create(spark.createDataFrame([], "id INT, v INT"))
        model: list = []  # multiset of (id, v)
        evolved = False
        snapshots = {1: (list(model), evolved)}
        for op, arg in ops:
            if op == "upsert":
                # once evolved, upsert must supply the full committed
                # shape (whole-row replace refuses implicit NULL backfill)
                if evolved:
                    vt.upsert(
                        spark.createDataFrame(
                            [(i, v, None) for i, v in arg],
                            "id INT, v INT, extra DOUBLE",
                        ),
                        ["id"],
                    )
                else:
                    vt.upsert(
                        spark.createDataFrame(arg, "id INT, v INT"), ["id"]
                    )
                keys = {i for i, _ in arg}
                model = [r for r in model if r[0] not in keys] + list(arg)
            elif op == "delete":
                vt.delete_where(f"id IN ({', '.join(map(str, arg))})")
                model = [r for r in model if r[0] not in set(arg)]
            elif op == "optimize":
                vt.optimize(sort_by=["id"] if arg else None, n_buckets=2)
            elif op == "rollback":
                to = 1 + arg % vt.current_version()
                vt.rollback(to)
                model, evolved = (
                    list(snapshots[to][0]), snapshots[to][1],
                )
            elif op == "evolve_append":
                # additive evolution: appended rows carry an extra column;
                # the model only tracks (id, v) — the widened column must
                # never change what the core columns read back as
                vt.append(
                    spark.createDataFrame(
                        [(i, v, float(v)) for i, v in arg],
                        "id INT, v INT, extra DOUBLE",
                    ),
                    allow_schema_evolution=True,
                )
                model = model + list(arg)
                evolved = True
            v = vt.current_version()
            snapshots[v] = (list(model), evolved)
            got = sorted((r["id"], r["v"]) for r in vt.read().collect())
            assert got == sorted(model), (op, arg, got, sorted(model))
        assert len(vt.history()) == vt.current_version()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_schema_evolution_additive_append(spark, tmp_path):
    """Additive schema evolution: new columns append without rewriting old
    dirs (old files read as NULL under the committed schema); time travel
    presents each snapshot under its own shape; type changes and column
    drops refuse loudly."""
    vt = VersionedTable(spark, str(tmp_path / "evo"))
    vt.create(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    with pytest.raises(ValueError, match="new columns.*schema_evolution"):
        vt.append(
            spark.createDataFrame(
                [(2, "b", 9.5)], "id INT, v STRING, score DOUBLE"
            )
        )
    before_dirs = vt._manifest(vt.current_version())["dirs"]
    vt.append(
        spark.createDataFrame(
            [(2, "b", 9.5)], "id INT, v STRING, score DOUBLE"
        ),
        allow_schema_evolution=True,
    )
    assert set(before_dirs) <= set(
        vt._manifest(vt.current_version())["dirs"]
    )  # no rewrite
    rows = {r["id"]: (r["v"], r["score"]) for r in vt.read().collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # pre-evolution snapshot still has the narrow schema
    assert vt.read(version=1).columns == ["id", "v"]
    # widened upsert round-trips through the committed wide schema
    vt.upsert(
        spark.createDataFrame(
            [(1, "A", 1.5)], "id INT, v STRING, score DOUBLE"
        ),
        ["id"],
    )
    assert {r["id"]: r["score"] for r in vt.read().collect()} == {
        1: 1.5, 2: 9.5,
    }
    # type change refuses
    with pytest.raises(ValueError, match="additive-only"):
        vt.append(
            spark.createDataFrame(
                [(3, 7, 1.0)], "id INT, v INT, score DOUBLE"
            )
        )
    # column drop refuses
    with pytest.raises(ValueError, match="additive-only"):
        vt.append(spark.createDataFrame([(3,)], "id INT"))


def test_check_constraints_enforced(spark, tmp_path):
    """Delta-style table CHECK constraints: enforced on create, append,
    upsert, and update; NULL evaluations pass (SQL CHECK semantics)."""
    vt = VersionedTable(spark, str(tmp_path / "chk"))
    with pytest.raises(ValueError, match="CHECK constraint violated"):
        vt.create(
            spark.createDataFrame([(-1, "bad")], "id INT, v STRING"),
            constraints=["id >= 0"],
        )
    vt2 = VersionedTable(spark, str(tmp_path / "chk2"))
    vt2.create(
        spark.createDataFrame([(1, "a"), (2, None)], "id INT, v STRING"),
        constraints=["id >= 0", "length(v) <= 3"],  # NULL v passes
    )
    with pytest.raises(ValueError, match="CHECK constraint violated"):
        vt2.append(spark.createDataFrame([(-5, "x")], "id INT, v STRING"))
    with pytest.raises(ValueError, match="CHECK constraint violated"):
        vt2.upsert(
            spark.createDataFrame([(3, "toolong")], "id INT, v STRING"),
            ["id"],
        )
    with pytest.raises(ValueError, match="CHECK constraint violated"):
        vt2.update_where("id = 1", {"v": "'waytoolong'"})
    # nothing partial committed: still the created snapshot
    assert vt2.current_version() == 1
    assert _rows(vt2.read()) == [(1, "a"), (2, None)]
    vt2.upsert(
        spark.createDataFrame([(3, "ok")], "id INT, v STRING"), ["id"]
    )
    assert vt2.read().count() == 3


def test_detail_summarizes_snapshot(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "det"))
    vt.create(
        spark.createDataFrame([(1, "a")], "id INT, v STRING"),
        constraints=["id >= 0"],
    )
    vt.append(spark.createDataFrame([(2, "b")], "id INT, v STRING"))
    d = vt.detail()
    assert d["version"] == 2 and d["op"] == "append"
    assert d["n_dirs"] == 2 and d["n_files"] >= 2 and d["size_bytes"] > 0
    assert d["columns"] == ["id", "v"]
    assert d["constraints"] == ["id >= 0"]
    assert vt.detail(version=1)["n_dirs"] == 1


def test_overwrite_can_replace_constraints(spark, tmp_path):
    """A schema-changing overwrite under an inherited constraint that
    references a now-dropped column must fail with guidance — and passing
    constraints=[] (or a new list) un-wedges the table."""
    vt = VersionedTable(spark, str(tmp_path / "ow_con"))
    vt.create(
        spark.createDataFrame([(1, 5)], "a INT, b INT"),
        constraints=["b > 0"],
    )
    with pytest.raises(ValueError, match="cannot be evaluated.*constraints"):
        vt.overwrite(spark.createDataFrame([(2,)], "a INT"))
    vt.overwrite(
        spark.createDataFrame([(2,)], "a INT"), constraints=["a > 0"]
    )
    assert vt.detail()["constraints"] == ["a > 0"]
    with pytest.raises(ValueError, match="CHECK constraint violated"):
        vt.append(spark.createDataFrame([(-1,)], "a INT"))
    vt.overwrite(spark.createDataFrame([(3,)], "a INT"), constraints=[])
    assert vt.detail()["constraints"] == []
    vt.append(spark.createDataFrame([(-1,)], "a INT"))  # no longer gated
    assert vt.read().count() == 2


def test_mutations_work_under_uri_encodable_root(spark, tmp_path):
    """input_file_name returns a percent-encoded URI; a root containing a
    space must still probe/prune correctly (a raw-path match would make
    delete_where a silent no-op)."""
    root = tmp_path / "my tables" / "t"
    vt = VersionedTable(spark, str(root))
    vt.create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    )
    vt.delete_where("id = 1")
    assert _rows(vt.read()) == [(2, "b")]
    vt.update_where("id = 2", {"v": "upper(v)"})
    assert _rows(vt.read()) == [(2, "B")]


def test_changes_feed_across_mutations(spark, tmp_path):
    """Change-data-feed read: per-commit insert/delete attribution across
    append, upsert (delete+insert of the differing rows only), delete, and
    rollback; OPTIMIZE — identical rows, new layout — yields no changes."""
    vt = VersionedTable(spark, str(tmp_path / "cdf"))
    vt.create(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING"))
    vt.append(spark.createDataFrame([(3, "c")], "id INT, v STRING"))  # v2
    vt.upsert(
        spark.createDataFrame([(2, "B"), (4, "d")], "id INT, v STRING"),
        keys=["id"],
    )  # v3: rewrites the dir holding id=2, inserts id=4

    def feed(lo, hi=None):
        return sorted(
            (r["_commit_version"], r["_change_type"], r["id"], r["v"])
            for r in vt.changes(lo, hi).collect()
        )

    assert feed(1, 2) == [(2, "insert", 3, "c")]
    v3 = feed(2, 3)
    assert (3, "insert", 2, "B") in v3 and (3, "insert", 4, "d") in v3
    assert (3, "delete", 2, "b") in v3
    # id=1 shared the create dir with id=2: the rewrite cancels it out
    assert not any(c for c in v3 if c[2] == 1)

    vt.delete_where("id = 3")  # v4
    assert feed(3, 4) == [(4, "delete", 3, "c")]

    vt.rollback(3)  # v5: id=3 comes back
    assert feed(4, 5) == [(5, "insert", 3, "c")]

    n_before = vt.read().count()
    vt.optimize(sort_by=["id"], n_buckets=2)  # v6: layout-only
    assert vt.changes(5, 6).count() == 0
    assert vt.read().count() == n_before

    # full-range feed still per-commit attributed, empty range is empty
    assert len(feed(0)) >= 6
    assert vt.changes(6, 6).count() == 0
    with pytest.raises(ValueError, match="outside committed range"):
        vt.changes(0, 99)

    # duplicate identical rows in one commit keep their multiplicity: each
    # surfaces once per copy, and a rewrite that keeps both copies nets
    # them out while the one removed row surfaces once
    vt.append(
        spark.createDataFrame(
            [(7, "g"), (7, "g"), (8, "h")], "id INT, v STRING"
        )
    )  # v7
    assert feed(6, 7) == [
        (7, "insert", 7, "g"), (7, "insert", 7, "g"), (7, "insert", 8, "h")
    ]
    vt.delete_where("id = 8")  # v8: rewrites the dir, keeping both 7s
    assert feed(7, 8) == [(8, "delete", 8, "h")]
    vt.delete_where("id = 7")  # v9
    assert feed(8, 9) == [(9, "delete", 7, "g"), (9, "delete", 7, "g")]


def test_changes_feed_aligns_schema_evolution(spark, tmp_path):
    """A commit on either side of a schema evolution NULL-fills the
    missing column instead of failing the feed's alignment."""
    vt = VersionedTable(spark, str(tmp_path / "cdf_evo"))
    vt.create(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    vt.append(
        spark.createDataFrame([(2, "b", 9)], "id INT, v STRING, extra INT"),
        allow_schema_evolution=True,
    )  # v2 widens
    rows = {
        (r["_commit_version"], r["_change_type"], r["id"], r["extra"])
        for r in vt.changes(0).collect()
    }
    assert (1, "insert", 1, None) in rows
    assert (2, "insert", 2, 9) in rows


def test_changes_feed_across_a_schema_replacing_overwrite(spark, tmp_path):
    """One commit that drops ``v`` and adds ``w``: the feed has the new
    schema's columns first, then the old-only ``v``, and each side is
    NULL-filled in the column it lacks."""
    vt = VersionedTable(spark, str(tmp_path / "cdf_replace"))
    vt.create(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING"))
    vt.overwrite(spark.createDataFrame([(1, 10.5)], "id INT, w DOUBLE"))
    feed = vt.changes(1)
    assert feed.columns == ["id", "w", "v", "_change_type", "_commit_version"]
    assert dict(feed.dtypes)["w"] == "double"
    assert dict(feed.dtypes)["v"] == "string"
    rows = sorted((tuple(r) for r in feed.collect()), key=lambda r: (r[0], r[3]))
    assert rows == [
        (1, None, "a", "delete", 2),
        (1, 10.5, None, "insert", 2),
        (2, None, "b", "delete", 2),
    ]


def test_changes_empty_range_at_version_zero(spark, tmp_path):
    """changes(0, 0) is a valid empty range (its own error message says
    the committed range starts at 0) and must return an empty feed, not
    chase a nonexistent v00000 manifest."""
    vt = VersionedTable(spark, str(tmp_path / "cdf0"))
    vt.create(spark.createDataFrame([(1,)], "id INT"))
    df = vt.changes(0, 0)
    assert df.count() == 0
    assert "_change_type" in df.columns


def test_mutations_work_under_plus_sign_root(spark, tmp_path):
    """A literal '+' stays unencoded in a URI path but url_decode would
    turn it into a space — the probe must round-trip it (the same
    silent-no-op class as the space-root bug, shifted one character)."""
    root = tmp_path / "a+b" / "t"
    vt = VersionedTable(spark, str(root))
    vt.create(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING"))
    vt.delete_where("id = 1")
    assert _rows(vt.read()) == [(2, "b")]


def test_shallow_clone_is_zero_copy_and_cow(spark, tmp_path):
    """clone() writes NO data files (manifest-only, absolute refs);
    mutations on the clone are copy-on-write — the source is untouched,
    shared untouched dirs stay referenced, and both tables keep their own
    histories. Constraints and schema carry over."""
    src = VersionedTable(spark, str(tmp_path / "src"))
    src.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id INT, v STRING"
        ),
        constraints=["id >= 0"],
    )
    src.append(spark.createDataFrame([(3, "c")], "id INT, v STRING"))

    dst = src.clone(str(tmp_path / "dst"))
    assert os.listdir(dst._data) == []  # zero data copied
    assert _rows(dst.read()) == [(1, "a"), (2, "b"), (3, "c")]
    assert dst.detail()["constraints"] == ["id >= 0"]

    # COW mutation on the clone: source unchanged, clone diverges
    dst.upsert(
        spark.createDataFrame([(2, "B"), (4, "d")], "id INT, v STRING"),
        keys=["id"],
    )
    assert _rows(dst.read()) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert _rows(src.read()) == [(1, "a"), (2, "b"), (3, "c")]
    # the clone's constraint still gates
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CHECK constraint violated"):
        dst.append(spark.createDataFrame([(-1, "x")], "id INT, v STRING"))

    # delete on the clone prunes against absolute source dirs correctly
    dst.delete_where("id = 3")
    assert _rows(dst.read()) == [(1, "a"), (2, "B"), (4, "d")]
    assert _rows(src.read()) == [(1, "a"), (2, "b"), (3, "c")]

    # clone of a clone, and refusing to clobber an existing table
    with _pytest.raises(ValueError, match="already exists"):
        src.clone(str(tmp_path / "dst"))

    # the clone's own vacuum never reclaims source data
    for i in range(3):
        dst.overwrite(spark.createDataFrame([(i, "z")], "id INT, v STRING"))
    dst.vacuum(keep_last=2)
    assert _rows(src.read()) == [(1, "a"), (2, "b"), (3, "c")]
