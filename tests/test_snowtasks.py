"""Snowflake TASK shim (plans/snowtasks.py): CREATE/ALTER/EXECUTE TASK
through the SQL dialect, composed with STREAMS for the canonical
incremental-load pattern, plus the Pipeline/cron bridge.

Reference parity: the reference IS an orchestrator (Airflow DAGs);
Snowflake TASK trees are the in-warehouse twin reachable through the
arbitrary-SQL chokepoint (``/root/reference/dags/dev_db_test.py:41-70``).
"""

from __future__ import annotations

from datetime import date, datetime

import pytest

from bfs_etl_sep2025_spark.plans import Pipeline, SqlTask
from bfs_etl_sep2025_spark.plans.snowtasks import (
    clear_tasks,
    execute_task,
    task_def,
    task_pipeline,
)
from bfs_etl_sep2025_spark.plans.streams import clear_streams
from bfs_etl_sep2025_spark.plans.versioned import (
    VersionedTable,
    register_versioned_table,
    unregister_versioned_table,
)


def _run_sql(spark, sql, task_id="tk"):
    with Pipeline(
        "snowtasks", schedule="@daily", start_date=date(2024, 3, 1)
    ) as p:
        task = SqlTask(task_id, sql=sql)
    p.run(spark, run_date=datetime(2024, 3, 1))
    return task


@pytest.fixture()
def vt_src(spark, tmp_path):
    root = str(tmp_path / "src_v")
    vt = VersionedTable(spark, root)
    vt.create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    )
    register_versioned_table("tk_src", root)
    yield vt
    unregister_versioned_table("tk_src")
    clear_streams()
    clear_tasks()


def test_create_alter_execute_roundtrip(spark, vt_src):
    _run_sql(
        spark,
        [
            "CREATE TASK t_load SCHEDULE = '15 MINUTE' AS "
            "CREATE OR REPLACE TABLE tk_staged AS "
            "SELECT id, v FROM tk_src AT(OFFSET => 0)",
            "ALTER TASK t_load RESUME",
            "EXECUTE TASK t_load",
        ],
    )
    assert task_def("t_load").resumed
    assert task_def("t_load").schedule == "15 MINUTE"
    assert sorted(r.id for r in spark.table("tk_staged").collect()) == [1, 2]
    assert len(task_def("t_load").runs) == 1


def test_stream_gated_task_is_the_incremental_pattern(spark, vt_src):
    """The flagship STREAM + TASK composition: the WHEN gate folds
    SYSTEM$STREAM_HAS_DATA exactly, the body consumes the stream, and a
    second EXECUTE with no new commits skips the body."""
    _run_sql(
        spark,
        [
            "CREATE STREAM tk_s ON TABLE tk_src",
            "CREATE TASK t_inc WHEN SYSTEM$STREAM_HAS_DATA('tk_s') AS "
            "CREATE OR REPLACE TABLE tk_inc AS "
            "SELECT id, v FROM tk_s WHERE METADATA$ACTION = 'INSERT'",
        ],
    )
    # no data yet -> WHEN false -> body skipped, run log marks the skip
    assert execute_task(spark, "t_inc") == []
    assert task_def("t_inc").runs == [""]
    # commit new rows -> gate opens -> body consumes the stream
    vt_src.append(spark.createDataFrame([(3, "c")], "id INT, v STRING"))
    assert execute_task(spark, "t_inc") == ["t_inc"]
    assert [r.id for r in spark.table("tk_inc").collect()] == [3]
    # consumed -> gate closed again
    assert execute_task(spark, "t_inc") == []


def test_after_chain_runs_in_dependency_order(spark, vt_src):
    _run_sql(
        spark,
        [
            "CREATE TASK t_root AS CREATE OR REPLACE TABLE tk_a AS "
            "SELECT 1 AS x",
            "CREATE TASK t_child AFTER t_root AS "
            "CREATE OR REPLACE TABLE tk_b AS SELECT x + 1 AS y FROM tk_a",
            "ALTER TASK t_child RESUME",
        ],
    )
    ran = execute_task(spark, "t_root")
    assert ran == ["t_root", "t_child"]
    assert spark.table("tk_b").collect()[0].y == 2


def test_after_lists_several_parents(spark, vt_src):
    """``AFTER a, b`` names two parents; the child runs after both."""
    _run_sql(
        spark,
        [
            "CREATE TASK t_p1 AS CREATE OR REPLACE TABLE tk_p1 AS SELECT 1 AS x",
            "CREATE TASK t_p2 AFTER t_p1 AS "
            "CREATE OR REPLACE TABLE tk_p2 AS SELECT 2 AS x",
            "CREATE TASK t_join AFTER t_p1, t_p2 AS "
            "CREATE OR REPLACE TABLE tk_join AS SELECT 3 AS x",
            "ALTER TASK t_p2 RESUME",
            "ALTER TASK t_join RESUME",
        ],
    )
    assert task_def("t_join").after == ("t_p1", "t_p2")
    assert execute_task(spark, "t_p1") == ["t_p1", "t_p2", "t_join"]


def test_suspended_child_skips_but_root_executes(spark, vt_src):
    _run_sql(
        spark,
        [
            "CREATE TASK t_r2 AS CREATE OR REPLACE TABLE tk_r2 AS "
            "SELECT 1 AS x",
            "CREATE TASK t_c2 AFTER t_r2 AS "
            "CREATE OR REPLACE TABLE tk_c2 AS SELECT 2 AS x",
        ],
    )
    # child never resumed: only the (manually-fired) root runs
    assert execute_task(spark, "t_r2") == ["t_r2"]


def test_unknown_clauses_and_missing_parent_refuse(spark, vt_src):
    with pytest.raises(Exception, match="unsupported by the shim"):
        _run_sql(
            spark,
            "CREATE TASK t_bad WAREHOUSE = wh AS SELECT 1",
        )
    with pytest.raises(Exception, match="not a registered task"):
        _run_sql(
            spark,
            "CREATE TASK t_orphan AFTER no_such_task AS SELECT 1",
        )
    with pytest.raises(Exception, match="SCHEDULE .* unsupported"):
        _run_sql(
            spark,
            "CREATE TASK t_sched SCHEDULE = 'WHENEVER' AS SELECT 1",
        )


def test_task_pipeline_bridges_to_engine_cron(spark, vt_src):
    """task_pipeline turns '<n> MINUTE' into the engine's cron schedule so
    plans/cron.py drives it like an Airflow schedule."""
    _run_sql(
        spark,
        [
            "CREATE TASK t_p SCHEDULE = '15 MINUTE' AS "
            "CREATE OR REPLACE TABLE tk_p AS SELECT 41 + 1 AS answer",
            "ALTER TASK t_p RESUME",
        ],
    )
    p = task_pipeline("t_p", start_date=date(2024, 3, 1))
    assert p.schedule.expr == "*/15 * * * *"
    p.run(spark, run_date=datetime(2024, 3, 1, 0, 15))
    assert spark.table("tk_p").collect()[0].answer == 42


def test_scheduled_run_gates_on_resume_and_when(spark, vt_src):
    """A scheduled run fires only resumed tasks whose WHEN holds: a
    suspended child and a false-WHEN child keep their bodies unrun (the
    false WHEN logged as a skip), and a suspended root fires nothing."""
    for t in ("tk_s_root", "tk_s_off", "tk_s_no"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    _run_sql(
        spark,
        [
            "CREATE TASK t_s SCHEDULE = '15 MINUTE' AS "
            "CREATE OR REPLACE TABLE tk_s_root AS SELECT 1 AS x",
            "CREATE TASK t_s_off AFTER t_s AS "
            "CREATE OR REPLACE TABLE tk_s_off AS SELECT 2 AS x",
            "CREATE TASK t_s_no AFTER t_s WHEN (1 = 0) AS "
            "CREATE OR REPLACE TABLE tk_s_no AS SELECT 3 AS x",
            "ALTER TASK t_s RESUME",
            "ALTER TASK t_s_no RESUME",
        ],
    )
    p = task_pipeline("t_s", start_date=date(2024, 3, 1))
    p.run(spark, run_date=datetime(2024, 3, 1, 0, 15))
    assert spark.table("tk_s_root").collect()[0].x == 1
    assert not spark.catalog.tableExists("tk_s_off")
    assert not spark.catalog.tableExists("tk_s_no")
    assert task_def("t_s_off").runs == []
    assert task_def("t_s_no").runs == [""]
    _run_sql(spark, "ALTER TASK t_s SUSPEND")
    p.run(spark, run_date=datetime(2024, 3, 1, 0, 30))
    assert len(task_def("t_s").runs) == 1
    assert task_def("t_s_no").runs == [""]


def test_when_with_cast_as_inside_condition(spark, vt_src):
    """The AS split is top-level-aware: a CAST(... AS ...) inside the WHEN
    parenthesis must not truncate the clause head."""
    _run_sql(
        spark,
        "CREATE TASK t_cast WHEN (CAST(1 AS INT) = 1) AS "
        "CREATE OR REPLACE TABLE tk_cast AS SELECT 7 AS x",
    )
    assert task_def("t_cast").when == "(CAST(1 AS INT) = 1)"
    assert execute_task(spark, "t_cast") == ["t_cast"]
    assert spark.table("tk_cast").collect()[0].x == 7


def test_quoted_clause_keywords_inside_when_do_not_mis_split(spark, vt_src):
    """ADVICE r8: clause extraction respects string literals — a WHEN
    condition containing quoted 'AFTER x' / 'SCHEDULE =' substrings must
    survive intact, and the real SCHEDULE clause after it must still
    parse."""
    _run_sql(
        spark,
        "CREATE TASK t_q SCHEDULE = '5 MINUTE' "
        "WHEN ('AFTER x' <> 'SCHEDULE =' ) AS "
        "CREATE OR REPLACE TABLE tk_q AS SELECT 1 AS x",
    )
    td = task_def("t_q")
    assert td.schedule == "5 MINUTE"
    assert td.when == "('AFTER x' <> 'SCHEDULE =' )".strip()
    assert td.after == ()
    assert execute_task(spark, "t_q") == ["t_q"]
    assert spark.table("tk_q").collect()[0].x == 1


def test_when_condition_bounded_by_real_schedule_clause(spark, vt_src):
    """WHEN ... SCHEDULE = ordering: the condition must stop at the real
    (unquoted) SCHEDULE clause head, not swallow it."""
    _run_sql(
        spark,
        "CREATE TASK t_wb WHEN (1 = 1) SCHEDULE = '5 MINUTE' AS "
        "CREATE OR REPLACE TABLE tk_wb AS SELECT 2 AS x",
    )
    td = task_def("t_wb")
    assert td.schedule == "5 MINUTE"
    assert td.when == "(1 = 1)"
