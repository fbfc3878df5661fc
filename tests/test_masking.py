"""Snowflake dynamic-data-masking shim (plans/masking.py) through the SQL
dialect chokepoint: CREATE MASKING POLICY, ALTER TABLE ... SET/UNSET
MASKING POLICY, USE ROLE, CURRENT_ROLE() folding at read time.

Pinned semantics: reads of a masked table run the policy body per bound
column (unbound columns pass through, row count/schema unchanged); the
role is observed at READ time (a USE ROLE between statements flips the
mask); writes hit the base table raw; UNSET restores raw reads; dropping
a still-bound policy refuses loudly (Snowflake does too).
"""

from __future__ import annotations

from datetime import date, datetime

import pytest

from bfs_etl_sep2025_spark.plans import Pipeline, SqlTask
from bfs_etl_sep2025_spark.plans.masking import clear_masking, current_role

POLICY = (
    "CREATE MASKING POLICY email_mask AS (val STRING) RETURNS STRING -> "
    "CASE WHEN CURRENT_ROLE() IN ('ANALYST') THEN val "
    "ELSE '***MASKED***' END"
)


def _run_sql(spark, sql, task_id="mask"):
    with Pipeline(
        "masking", schedule="@daily", start_date=date(2024, 3, 1)
    ) as p:
        task = SqlTask(task_id, sql=sql)
    p.run(spark, run_date=datetime(2024, 3, 1))
    return task


@pytest.fixture()
def users(spark):
    spark.sql("DROP TABLE IF EXISTS mask_users")
    spark.sql(
        "CREATE TABLE mask_users (id INT, email STRING, plan STRING) "
        "USING PARQUET"
    )
    spark.sql(
        "INSERT INTO mask_users VALUES "
        "(1, 'a@x.com', 'free'), (2, 'b@y.org', 'pro')"
    )
    yield "mask_users"
    clear_masking()
    spark.sql("DROP TABLE IF EXISTS mask_users")


def _emails(spark, users):
    _run_sql(
        spark,
        "CREATE OR REPLACE TABLE mask_probe AS "
        f"SELECT id, email, plan FROM {users}",
    )
    rows = spark.table("mask_probe").orderBy("id").collect()
    return [(r.id, r.email, r.plan) for r in rows]


def test_masked_read_and_role_switch(spark, users):
    _run_sql(
        spark,
        [
            POLICY,
            f"ALTER TABLE {users} MODIFY COLUMN email "
            "SET MASKING POLICY email_mask",
        ],
    )
    # default role PUBLIC: masked; unbound columns untouched
    assert _emails(spark, users) == [
        (1, "***MASKED***", "free"),
        (2, "***MASKED***", "pro"),
    ]
    # the privileged role sees through; observed at READ time
    _run_sql(spark, "USE ROLE analyst")
    assert current_role() == "ANALYST"
    assert _emails(spark, users) == [
        (1, "a@x.com", "free"),
        (2, "b@y.org", "pro"),
    ]
    # switching back re-masks — the view is rebuilt per read
    _run_sql(spark, "USE ROLE reporting")
    assert _emails(spark, users)[0][1] == "***MASKED***"


def test_writes_hit_base_table_and_unset_restores(spark, users):
    _run_sql(
        spark,
        [
            POLICY,
            f"ALTER TABLE {users} MODIFY COLUMN email "
            "SET MASKING POLICY email_mask",
            # the write target is never rewritten: raw value lands
            f"INSERT INTO {users} VALUES (3, 'c@z.io', 'pro')",
        ],
    )
    assert [e for _, e, _ in _emails(spark, users)] == ["***MASKED***"] * 3
    _run_sql(
        spark,
        f"ALTER TABLE {users} MODIFY COLUMN email UNSET MASKING POLICY",
    )
    # raw reads restored, including the row inserted while masked
    assert _emails(spark, users) == [
        (1, "a@x.com", "free"),
        (2, "b@y.org", "pro"),
        (3, "c@z.io", "pro"),
    ]


def test_drop_bound_policy_refuses_and_aliases_untouched(spark, users):
    _run_sql(
        spark,
        [
            POLICY,
            f"ALTER TABLE {users} MODIFY COLUMN email "
            "SET MASKING POLICY email_mask",
        ],
    )
    with pytest.raises(Exception, match="still.*bound|bound"):
        _run_sql(spark, "DROP MASKING POLICY email_mask")
    # a COLUMN ALIAS sharing the table's name must not be rewritten
    _run_sql(
        spark,
        "CREATE OR REPLACE TABLE mask_alias AS "
        f"SELECT id AS {users} FROM {users}",
    )
    assert {r[0] for r in spark.table("mask_alias").collect()} == {1, 2}
    # dialect spellings inside the policy body flow through translate
    _run_sql(
        spark,
        [
            f"ALTER TABLE {users} MODIFY COLUMN email UNSET MASKING POLICY",
            "DROP MASKING POLICY email_mask",
            "CREATE MASKING POLICY iff_mask AS (v STRING) RETURNS STRING ->"
            " IFF(CURRENT_ROLE() = 'ADMIN', v, repeat('*', length(v)))",
            f"ALTER TABLE {users} MODIFY COLUMN email "
            "SET MASKING POLICY iff_mask",
        ],
    )
    assert [e for _, e, _ in _emails(spark, users)] == [
        "*" * len("a@x.com"), "*" * len("b@y.org"),
    ]


def test_row_access_policy_filters_and_composes_with_masking(spark, users):
    _run_sql(
        spark,
        [
            "CREATE ROW ACCESS POLICY pro_only AS (p STRING) "
            "RETURNS BOOLEAN -> "
            "CURRENT_ROLE() = 'ADMIN' OR p = 'pro'",
            f"ALTER TABLE {users} ADD ROW ACCESS POLICY pro_only ON (plan)",
        ],
    )
    # default role: only 'pro' rows visible
    assert _emails(spark, users) == [(2, "b@y.org", "pro")]
    # composes with a column mask on the SAME table (filter on RAW rows,
    # mask on the projected columns)
    _run_sql(
        spark,
        [
            POLICY,
            f"ALTER TABLE {users} MODIFY COLUMN email "
            "SET MASKING POLICY email_mask",
        ],
    )
    assert _emails(spark, users) == [(2, "***MASKED***", "pro")]
    # the privileged role sees every row and raw values again
    _run_sql(spark, "USE ROLE admin")
    rows = _emails(spark, users)
    assert [r[0] for r in rows] == [1, 2]
    _run_sql(spark, "USE ROLE analyst")  # analyst: unmasked but filtered
    assert _emails(spark, users) == [(2, "b@y.org", "pro")]
    # one row policy per table (Snowflake rule), detach restores
    with pytest.raises(Exception, match="already has"):
        _run_sql(
            spark,
            [
                "CREATE ROW ACCESS POLICY other AS (p STRING) "
                "RETURNS BOOLEAN -> TRUE",
                f"ALTER TABLE {users} ADD ROW ACCESS POLICY other ON (plan)",
            ],
        )
    with pytest.raises(Exception, match="still bound"):
        _run_sql(spark, "DROP ROW ACCESS POLICY pro_only")
    _run_sql(
        spark,
        [
            f"ALTER TABLE {users} DROP ROW ACCESS POLICY pro_only",
            "DROP ROW ACCESS POLICY pro_only",
            f"ALTER TABLE {users} MODIFY COLUMN email UNSET MASKING POLICY",
        ],
    )
    assert [r[0] for r in _emails(spark, users)] == [1, 2]


def test_policy_body_literals_survive_substitution(spark, users):
    """ADVICE r10: arg-name and CURRENT_ROLE() substitution must skip string
    literals — a body whose masked replacement TEXT contains the arg name
    (or the text current_role()) must emit that literal verbatim."""
    _run_sql(
        spark,
        [
            # literal contains both the arg name ('val') and 'current_role()'
            "CREATE MASKING POLICY lit_mask AS (val STRING) RETURNS STRING "
            "-> CASE WHEN CURRENT_ROLE() IN ('ANALYST') THEN val "
            "ELSE 'masked val by current_role()' END",
            f"ALTER TABLE {users} MODIFY COLUMN email "
            "SET MASKING POLICY lit_mask",
        ],
    )
    assert _emails(spark, users) == [
        (1, "masked val by current_role()", "free"),
        (2, "masked val by current_role()", "pro"),
    ]
    _run_sql(spark, "USE ROLE analyst")
    assert _emails(spark, users) == [
        (1, "a@x.com", "free"),
        (2, "b@y.org", "pro"),
    ]


def test_parenthesized_argument_types(spark, users):
    """Policy signatures with parenthesized types (``VARCHAR(20)``,
    ``DECIMAL(10,2)``) are parsed and applied, not passed to Spark."""
    _run_sql(
        spark,
        [
            "CREATE MASKING POLICY short_mask AS (v VARCHAR(20)) "
            "RETURNS VARCHAR(20) -> CONCAT(LEFT(v, 1), '***')",
            "CREATE ROW ACCESS POLICY low_id AS (k DECIMAL(10,2)) "
            "RETURNS BOOLEAN -> k < 1.5",
            f"ALTER TABLE {users} MODIFY COLUMN email "
            "SET MASKING POLICY short_mask",
            f"ALTER TABLE {users} ADD ROW ACCESS POLICY low_id ON (id)",
        ],
    )
    assert _emails(spark, users) == [(1, "a***", "free")]


@pytest.mark.parametrize("ref", ["mdb.users", "`mdb`.`users`", "mdb.`users`"])
def test_quoted_table_name_reads_masked(spark, ref):
    """Each dot-separated part of a masked table's name may be spelled
    quoted; every spelling reads through the policy view."""
    spark.sql("CREATE DATABASE IF NOT EXISTS mdb")
    spark.sql("DROP TABLE IF EXISTS mdb.users")
    spark.sql("CREATE TABLE mdb.users (id INT, email STRING) USING PARQUET")
    spark.sql("INSERT INTO mdb.users VALUES (1, 'a@x.com')")
    try:
        _run_sql(
            spark,
            [
                "CREATE MASKING POLICY star_mask AS (v STRING) "
                "RETURNS STRING -> '***'",
                "ALTER TABLE mdb.users MODIFY COLUMN email "
                "SET MASKING POLICY star_mask",
                f"CREATE OR REPLACE TABLE mask_quoted AS SELECT email FROM {ref}",
            ],
        )
        assert [r.email for r in spark.table("mask_quoted").collect()] == ["***"]
    finally:
        clear_masking()
        spark.sql("DROP TABLE IF EXISTS mdb.users")
        spark.sql("DROP TABLE IF EXISTS mask_quoted")


def test_one_quoted_identifier_with_a_dot_names_another_table():
    """```mdb.users``` is one identifier (a table literally named
    ``mdb.users``), and a quoted spelling inside a literal is data; neither
    routes to the view of ``mdb.users``."""
    task = SqlTask("route_probe", sql="SELECT 1")

    def route(sql):
        return task._route_table_refs(sql, ["mdb.users"], lambda _: "masked_v")

    for sql in ["SELECT email FROM `mdb.users`", "SELECT 'FROM `mdb`.`users`'"]:
        assert route(sql) == sql
    assert route('SELECT * FROM "mdb"."users"') == "SELECT * FROM masked_v"
