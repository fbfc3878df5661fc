"""Snowflake STREAM shim: change-tracking consumption over VersionedTable
CDC through the SQL dialect (plans/streams.py).

Reference parity: the incremental-consumption pattern every
Snowflake-on-Airflow shop runs through the arbitrary-SQL chokepoint
(``/root/reference/dags/dev_db_test.py:41-70``)::

    CREATE STREAM s ON TABLE t;
    INSERT INTO staged SELECT * FROM s;   -- consumes

Semantics pinned here: streams start empty (SHOW_INITIAL_ROWS flips
that), a bare SELECT peeks without consuming, a successful DML advances
the offset to the version captured at read time, APPEND_ONLY filters
deletes, SYSTEM$STREAM_HAS_DATA folds to its exact truth value, and
writing INTO a stream refuses loudly.
"""

from __future__ import annotations

from datetime import date, datetime

import pytest

from bfs_etl_sep2025_spark.plans import Pipeline, SqlTask
from bfs_etl_sep2025_spark.plans.streams import (
    clear_streams,
    stream_has_data,
    stream_names,
    stream_offset,
)
from bfs_etl_sep2025_spark.plans.versioned import (
    VersionedTable,
    register_versioned_table,
    unregister_versioned_table,
)


def _run_sql(spark, sql, task_id="st"):
    with Pipeline(
        "streams", schedule="@daily", start_date=date(2024, 3, 1)
    ) as p:
        task = SqlTask(task_id, sql=sql)
    p.run(spark, run_date=datetime(2024, 3, 1))
    return task


@pytest.fixture()
def s_table(spark, tmp_path):
    """A fresh versioned table (ids {1, 2}) registered as ``st_orders``."""
    root = str(tmp_path / "orders_v")
    vt = VersionedTable(spark, root)
    vt.create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    )
    register_versioned_table("st_orders", root)
    yield vt
    unregister_versioned_table("st_orders")
    clear_streams()


def test_stream_starts_empty_and_select_peeks(spark, s_table):
    _run_sql(spark, "CREATE STREAM s1 ON TABLE st_orders")
    assert "s1" in stream_names()
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW s1_now AS SELECT * FROM s1",
    )
    assert spark.table("s1_now").count() == 0
    # new commit becomes visible; the SELECT above consumed nothing
    s_table.append(spark.createDataFrame([(3, "c")], "id INT, v STRING"))
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW s1_after AS SELECT * FROM s1",
    )
    rows = spark.table("s1_after").collect()
    assert [(r.id, r["METADATA$ACTION"]) for r in rows] == [(3, "INSERT")]
    assert rows[0]["METADATA$ISUPDATE"] is False
    assert len(rows[0]["METADATA$ROW_ID"]) == 32


def test_dml_consumes_and_advances(spark, s_table):
    _run_sql(spark, "CREATE STREAM s2 ON TABLE st_orders")
    s_table.append(spark.createDataFrame([(3, "c")], "id INT, v STRING"))
    before = stream_offset("s2")
    _run_sql(
        spark,
        "CREATE OR REPLACE TABLE staged AS "
        "SELECT id, v FROM s2 WHERE METADATA$ACTION = 'INSERT'",
    )
    assert [r.id for r in spark.table("staged").collect()] == [3]
    assert stream_offset("s2") > before
    # consumed: the stream is empty again until the next commit
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW s2_now AS SELECT * FROM s2",
    )
    assert spark.table("s2_now").count() == 0


def test_standard_stream_sees_deletes_append_only_does_not(spark, s_table):
    _run_sql(
        spark,
        [
            "CREATE STREAM s_std ON TABLE st_orders",
            "CREATE STREAM s_ao ON TABLE st_orders APPEND_ONLY = TRUE",
        ],
    )
    s_table.delete_where("id = 1")
    _run_sql(
        spark,
        [
            "CREATE OR REPLACE TEMPORARY VIEW std_now AS SELECT * FROM s_std",
            "CREATE OR REPLACE TEMPORARY VIEW ao_now AS SELECT * FROM s_ao",
        ],
    )
    std = spark.table("std_now").collect()
    assert [(r.id, r["METADATA$ACTION"]) for r in std] == [(1, "DELETE")]
    assert spark.table("ao_now").count() == 0


def test_show_initial_rows(spark, s_table):
    _run_sql(
        spark,
        "CREATE STREAM s_init ON TABLE st_orders SHOW_INITIAL_ROWS = TRUE",
    )
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW init_now AS "
        "SELECT * FROM s_init",
    )
    got = sorted(
        (r.id, r["METADATA$ACTION"]) for r in spark.table("init_now").collect()
    )
    assert got == [(1, "INSERT"), (2, "INSERT")]


def test_system_stream_has_data_folds_exactly(spark, s_table):
    _run_sql(spark, "CREATE STREAM s_gate ON TABLE st_orders")
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW gate AS "
        "SELECT SYSTEM$STREAM_HAS_DATA('s_gate') AS has_data",
    )
    assert spark.table("gate").collect()[0].has_data is False
    s_table.append(spark.createDataFrame([(9, "z")], "id INT, v STRING"))
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW gate2 AS "
        "SELECT SYSTEM$STREAM_HAS_DATA('s_gate') AS has_data",
    )
    assert spark.table("gate2").collect()[0].has_data is True


def test_stream_cannot_be_write_target(spark, s_table):
    _run_sql(spark, "CREATE STREAM s_w ON TABLE st_orders")
    with pytest.raises(Exception, match="cannot be a write target"):
        _run_sql(spark, "INSERT INTO s_w VALUES (9, 'z')")


def test_create_stream_requires_versioned_table(spark, s_table):
    with pytest.raises(Exception, match="register_versioned_table"):
        _run_sql(spark, "CREATE STREAM s_bad ON TABLE plain_parquet_thing")


def test_drop_stream_and_unknown_option(spark, s_table):
    _run_sql(spark, "CREATE STREAM s_d ON TABLE st_orders")
    assert "s_d" in stream_names()
    _run_sql(spark, "DROP STREAM s_d")
    assert "s_d" not in stream_names()
    with pytest.raises(Exception, match="unsupported by the shim"):
        _run_sql(
            spark,
            "CREATE STREAM s_opt ON TABLE st_orders AT (STREAM => 'x')",
        )


def test_offset_captured_after_earlier_statements_in_same_task(
    spark, s_table
):
    """CREATE STREAM resolves at EXECUTION time: a stream created after an
    earlier statement's commit (same task run) must not see that commit's
    rows as pending changes."""
    # commit happens via the engine API between two statements of one task:
    # statement 1 is a no-op view; the append lands before statement 2 runs
    s_table.append(spark.createDataFrame([(7, "g")], "id INT, v STRING"))
    _run_sql(spark, "CREATE STREAM s_t ON TABLE st_orders")
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW st_now AS SELECT * FROM s_t",
    )
    assert spark.table("st_now").count() == 0  # created AFTER the append


def test_stream_name_as_column_or_alias_is_not_rewritten(spark, s_table):
    """ADVICE r8: a column or alias that merely EQUALS a registered stream
    name must not be rewritten into the change-feed view — only
    table-reference positions (FROM / JOIN / USING / comma-join) resolve."""
    _run_sql(spark, "CREATE STREAM colname ON TABLE st_orders")
    spark.createDataFrame(
        [(1,), (2,)], "id INT"
    ).createOrReplaceTempView("plain_src")
    # 'colname' appears as an output alias and a WHERE operand — neither is
    # a table reference; the statement must run against the real view
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW alias_probe AS "
        "SELECT id AS colname FROM plain_src WHERE id >= 1",
    )
    got = {r.colname for r in spark.table("alias_probe").collect()}
    assert got == {1, 2}
    # and the stream itself still resolves in a true FROM position,
    # carrying the change rows committed after creation
    s_table.append(spark.createDataFrame([(3, "c")], "id INT, v STRING"))
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW s_reads AS "
        "SELECT id FROM colname",
    )
    assert {r.id for r in spark.table("s_reads").collect()} == {3}


def test_qualified_stream_name_reads(spark, s_table):
    """A schema-qualified stream name resolves to its change feed (its
    temp view must still be a one-part name)."""
    _run_sql(spark, "CREATE STREAM db1.s_q ON TABLE st_orders SHOW_INITIAL_ROWS = TRUE")
    _run_sql(spark, "CREATE OR REPLACE TEMPORARY VIEW q_now AS SELECT id FROM db1.s_q")
    assert sorted(r.id for r in spark.table("q_now").collect()) == [1, 2]


def test_stream_resolves_in_comma_join(spark, s_table):
    """Table-reference positions beyond plain FROM: the comma-join slot
    must still resolve the stream to its change feed."""
    _run_sql(spark, "CREATE STREAM s_cj ON TABLE st_orders")
    s_table.append(spark.createDataFrame([(7, "q")], "id INT, v STRING"))
    spark.createDataFrame(
        [(7,), (8,)], "id INT"
    ).createOrReplaceTempView("cj_dim")
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW cj AS "
        "SELECT t.id AS tid, s.id AS sid "
        "FROM cj_dim t, s_cj s WHERE t.id = s.id",
    )
    rows = spark.table("cj").collect()
    assert {(r.tid, r.sid) for r in rows} == {(7, 7)}


def test_stream_views_do_not_leak_across_reads(spark, s_table):
    """ADVICE r8: each stream keeps ONE live temp view — re-reads (offset
    or version moved) drop the previous snapshot view instead of leaking a
    catalog entry per read."""
    _run_sql(spark, "CREATE STREAM s_leak ON TABLE st_orders")
    for i in range(3):
        s_table.append(
            spark.createDataFrame([(10 + i, "x")], "id INT, v STRING")
        )
        _run_sql(
            spark,
            "CREATE OR REPLACE TEMPORARY VIEW leak_probe AS "
            "SELECT * FROM s_leak",
        )
    views = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__stream_s_leak_")
    ]
    assert len(views) == 1, views


def test_stream_offset_survives_a_new_session(spark, s_table):
    """The offset lives in a commit log under the table root: with the
    session's stream state forgotten and the table registered again, the
    offset, SYSTEM$STREAM_HAS_DATA and IF NOT EXISTS all see the persisted
    stream."""
    _run_sql(spark, "CREATE STREAM s_dur ON TABLE st_orders")
    s_table.append(spark.createDataFrame([(3, "c")], "id INT, v STRING"))
    _run_sql(spark, "CREATE OR REPLACE TABLE dur_staged AS SELECT id FROM s_dur")
    consumed = stream_offset("s_dur")
    assert consumed == s_table.current_version()

    clear_streams()
    unregister_versioned_table("st_orders")
    assert "s_dur" not in stream_names()
    register_versioned_table("st_orders", s_table.root)
    assert "s_dur" in stream_names()
    assert stream_offset("s_dur") == consumed
    assert not stream_has_data(spark, "s_dur")
    _run_sql(
        spark,
        "CREATE STREAM IF NOT EXISTS s_dur ON TABLE st_orders "
        "SHOW_INITIAL_ROWS = TRUE",
    )
    assert stream_offset("s_dur") == consumed
    s_table.append(spark.createDataFrame([(4, "d")], "id INT, v STRING"))
    _run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW dur_gate AS "
        "SELECT SYSTEM$STREAM_HAS_DATA('s_dur') AS has_data",
    )
    assert spark.table("dur_gate").collect()[0].has_data is True


def test_stream_name_under_two_tables_raises(spark, s_table, tmp_path):
    other = VersionedTable(spark, str(tmp_path / "other_v"))
    other.create(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    _run_sql(spark, "CREATE STREAM s_twice ON TABLE st_orders")
    register_versioned_table("st_other", other.root)
    try:
        # a stream log copied in by hand: CREATE itself would move it
        import shutil

        shutil.copytree(
            f"{s_table.root}/_streams/s_twice", f"{other.root}/_streams/s_twice"
        )
        with pytest.raises(ValueError, match="more than one registered table"):
            stream_offset("s_twice")
    finally:
        unregister_versioned_table("st_other")
