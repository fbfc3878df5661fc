"""Snowflake AT/BEFORE time-travel SQL resolves to VersionedTable snapshot
reads through the dialect shim (VERDICT r6 item 2).

Reference parity: the arbitrary-SQL chokepoint
(``/root/reference/dags/dev_db_test.py:41-70``) can issue any Snowflake
statement, including ``SELECT ... AT(TIMESTAMP => ...)`` and
``CREATE TABLE ... CLONE ... AT(...)`` — previously the one headline
Snowflake feature whose engine capability existed (plans/versioned.py) but
was unreachable from SQL (the shim refused loudly).
"""

from __future__ import annotations

import time
from datetime import date, datetime, timezone

import pytest

from bfs_etl_sep2025_spark.plans import Pipeline, SqlTask
from bfs_etl_sep2025_spark.plans.versioned import (
    VersionedTable,
    register_versioned_table,
    unregister_versioned_table,
)


def _utc_now_naive() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


@pytest.fixture(scope="module")
def tt_table(spark, tmp_path_factory):
    """A 3-commit versioned table registered for SQL time travel, plus the
    wall-clock instants between commits (for TIMESTAMP/OFFSET operands).

    v1: ids {1, 2}; v2: ids {1, 2, 3}; v3 (delete id=1): ids {2, 3}.
    """
    root = str(tmp_path_factory.mktemp("tt") / "orders_v")
    vt = VersionedTable(spark, root)
    vt.create(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING"))
    t_after_v1 = _utc_now_naive()
    time.sleep(0.05)  # commit instants must be distinguishable
    vt.append(spark.createDataFrame([(3, "c")], "id INT, v STRING"))
    t_after_v2 = _utc_now_naive()
    time.sleep(0.05)
    vt.delete_where("id = 1")
    register_versioned_table("tt_orders", root)
    yield {"vt": vt, "after_v1": t_after_v1, "after_v2": t_after_v2}
    unregister_versioned_table("tt_orders")


def _run_sql(spark, sql, task_id="tt"):
    with Pipeline(
        "timetravel", schedule="@daily", start_date=date(2024, 3, 1)
    ) as p:
        task = SqlTask(task_id, sql=sql)
    p.run(spark, run_date=datetime(2024, 3, 1))
    return task


def _ids(spark, view):
    return sorted(r.id for r in spark.table(view).collect())


def test_at_version_reads_snapshot(spark, tt_table):
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW tt_v1 AS "
        "SELECT * FROM tt_orders AT(VERSION => 1)",
    )
    assert _ids(spark, "tt_v1") == [1, 2]


@pytest.mark.parametrize("name", ["tt_orders", "`tt_orders`", '"tt_orders"'])
def test_quoted_name_reads_snapshot(spark, tt_table, name):
    """A backquoted or double-quoted table name is time-travelled like a
    bare one: its opening quote is not a code position, but the AT keyword
    is, and the resolver strips the identifier quotes."""
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW tt_q AS "
        f"SELECT * FROM {name} AT(VERSION => 1)",
    )
    assert _ids(spark, "tt_q") == [1, 2]


def test_at_statement_is_commit_version(spark, tt_table):
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW tt_v2 AS "
        "SELECT * FROM tt_orders AT(STATEMENT => '2')",
    )
    assert _ids(spark, "tt_v2") == [1, 2, 3]


def test_before_statement_reads_parent(spark, tt_table):
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW tt_b2 AS "
        "SELECT * FROM tt_orders BEFORE(STATEMENT => 2)",
    )
    assert _ids(spark, "tt_b2") == [1, 2]


def test_before_first_commit_raises(spark, tt_table):
    with pytest.raises(ValueError, match="before the first commit"):
        _run_sql(
            spark,
            "SELECT * FROM tt_orders BEFORE(VERSION => 1)",
        )


def test_at_unknown_version_raises(spark, tt_table):
    with pytest.raises(ValueError, match="no committed version 99"):
        _run_sql(spark, "SELECT * FROM tt_orders AT(VERSION => 99)")


def test_at_timestamp_resolves_commit_instant(spark, tt_table):
    ts = tt_table["after_v1"].isoformat(sep=" ", timespec="microseconds")
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW tt_ts AS "
        f"SELECT * FROM tt_orders AT(TIMESTAMP => '{ts}'::timestamp)",
    )
    assert _ids(spark, "tt_ts") == [1, 2]
    ts2 = tt_table["after_v2"].isoformat(sep=" ", timespec="microseconds")
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW tt_ts2 AS "
        f"SELECT * FROM tt_orders AT(TIMESTAMP => '{ts2}')",
    )
    assert _ids(spark, "tt_ts2") == [1, 2, 3]


def test_before_timestamp_is_strict(spark, tt_table):
    """BEFORE at an instant AFTER v1's commit still excludes nothing that
    v1 committed — but BEFORE at a pre-create instant raises."""
    ts = tt_table["after_v1"].isoformat(sep=" ", timespec="microseconds")
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW tt_bts AS "
        f"SELECT * FROM tt_orders BEFORE(TIMESTAMP => '{ts}')",
    )
    assert _ids(spark, "tt_bts") == [1, 2]
    with pytest.raises(ValueError, match="time travel out of range"):
        _run_sql(
            spark,
            "SELECT * FROM tt_orders "
            "BEFORE(TIMESTAMP => '1990-01-01 00:00:00')",
        )


def test_at_offset_now_reads_current(spark, tt_table):
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW tt_off AS "
        "SELECT * FROM tt_orders AT(OFFSET => 0)",
    )
    assert _ids(spark, "tt_off") == [2, 3]


def test_at_offset_out_of_range_raises(spark, tt_table):
    with pytest.raises(ValueError, match="time travel out of range"):
        _run_sql(
            spark, "SELECT * FROM tt_orders AT(OFFSET => -86400 * 365)"
        )


def test_clone_at_version_ctas(spark, tt_table):
    """CREATE TABLE ... CLONE src AT(...) reduces to a CTAS of the snapshot
    view — the time-travel clone the shim previously refused."""
    _run_sql(
        spark,
        [
            "DROP TABLE IF EXISTS tt_clone",
            "CREATE TABLE tt_clone CLONE tt_orders AT(VERSION => 1)",
        ],
    )
    try:
        assert _ids(spark, "tt_clone") == [1, 2]
    finally:
        spark.sql("DROP TABLE IF EXISTS tt_clone")


def test_time_travel_in_join_and_aggregate(spark, tt_table):
    """The golden-pipeline shape: compare two snapshots of the SAME table
    in one statement (self-join across versions)."""
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW tt_diff AS "
        "SELECT cur.id FROM tt_orders AT(VERSION => 2) AS cur "
        "LEFT ANTI JOIN tt_orders AT(VERSION => 1) AS old ON old.id = cur.id",
    )
    assert _ids(spark, "tt_diff") == [3]


def test_unregistered_table_raises_with_guidance(spark):
    with pytest.raises(ValueError, match="register_versioned_table"):
        _run_sql(spark, "SELECT * FROM nope AT(VERSION => 1)")


def test_non_time_travel_at_passes_through(spark, tt_table):
    """An AT( whose operand is not KEY => value is NOT a time-travel
    clause: the text must reach Spark untouched (and parse or fail on its
    own terms), and a quoted 'AT(VERSION => 1)' is data, not syntax."""
    task = _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW tt_lit AS "
        "SELECT 'x AT(VERSION => 1) y' AS s",
    )
    assert "AT(VERSION => 1)" in task.executed[-1]
    assert spark.table("tt_lit").collect()[0].s == "x AT(VERSION => 1) y"


def test_version_at_resolver_mtime_fallback(spark, tt_table, tmp_path):
    """Manifests written before commit-timestamp tracking (no ts_us field)
    resolve via file mtime."""
    import json
    import os

    vt = tt_table["vt"]
    # strip ts_us from v1's manifest, as an old-format manifest would be
    path = os.path.join(vt._manifests, "v00001.json")
    with open(path) as f:
        m = json.load(f)
    orig = m.pop("ts_us")
    with open(path, "w") as f:
        json.dump(m, f)
    try:
        v = vt.version_at(int(time.time() * 1_000_000))
        assert v == vt.current_version()
        # an instant before everything still raises
        with pytest.raises(ValueError):
            vt.version_at(1)
    finally:
        m["ts_us"] = orig
        with open(path, "w") as f:
            json.dump(m, f)
