"""Snowflake QUALIFY dialect shim (plans/qualify.py): string-level rewrite
units plus an executed SqlTask proving the window+filter form returns the
rows Snowflake's QUALIFY would. Reference surface: arbitrary Snowflake SQL
through the SnowflakeOperator pass-through (dags/dev_db_test.py:41-70)."""

from __future__ import annotations

from datetime import datetime

from bfs_etl_sep2025_spark.plans import Pipeline, SqlTask
from bfs_etl_sep2025_spark.plans.qualify import rewrite_qualify

FROZEN = datetime(2024, 3, 1, 12, 0, 0)


def test_noop_without_qualify():
    sql = "SELECT a, b FROM t WHERE a > 1 ORDER BY b"
    assert rewrite_qualify(sql) == sql


def test_qualify_in_string_literal_untouched():
    sql = "SELECT 'use QUALIFY here' AS note FROM t"
    assert rewrite_qualify(sql) == sql


def test_qualify_in_subquery_untouched():
    # only top-level QUALIFY is rewritten; a parenthesized one is left alone
    sql = "SELECT * FROM (SELECT 1 AS x) WHERE x IN (SELECT 1)"
    assert rewrite_qualify(sql) == sql


def test_basic_rewrite_shape():
    out = rewrite_qualify(
        "SELECT g, x FROM t QUALIFY row_number() OVER "
        "(PARTITION BY g ORDER BY x) = 1"
    )
    assert out.startswith("SELECT * EXCEPT (__qualify__) FROM (")
    assert "WHERE __qualify__" in out
    assert "AS __qualify__" in out


def test_rewrite_preserves_order_by_tail():
    out = rewrite_qualify(
        "SELECT g, x FROM t QUALIFY rank() OVER (ORDER BY x) <= 2 "
        "ORDER BY g LIMIT 5"
    )
    assert out.endswith("ORDER BY g LIMIT 5")
    assert "rank() OVER (ORDER BY x) <= 2" in out


def test_iff_translates_and_executes(spark):
    """Snowflake IFF maps to Spark's IF ternary; a column named
    'different' must not be mangled by the word-boundary regex."""
    p = Pipeline("iff_shim", clock=lambda: FROZEN)
    t = SqlTask(
        "t",
        sql=(
            "CREATE OR REPLACE TABLE iff_out AS "
            "SELECT IFF(2 > 1, 'yes', 'no') AS different"
        ),
        schema="dev_db",
        pipeline=p,
    )
    p.run(spark)
    assert spark.table("dev_db.iff_out").collect()[0].different == "yes"
    assert any("IF(2 > 1" in s for s in t.executed)


def test_qualify_executes_latest_per_key(spark):
    """End-to-end: Snowflake-spelled dedup-to-latest via QUALIFY runs on
    Spark and keeps exactly the per-group argmax rows."""
    p = Pipeline("qualify_clone", clock=lambda: FROZEN)
    seed = SqlTask(
        "seed",
        sql=(
            "CREATE OR REPLACE TABLE q_src (g INT, x INT, v VARCHAR(10)); "
            "INSERT INTO q_src VALUES (1, 10, 'a'), (1, 20, 'b'), "
            "(2, 5, 'c'), (2, 1, 'd')"
        ),
        schema="dev_db",
        pipeline=p,
    )
    t = SqlTask(
        "latest",
        sql=(
            "CREATE OR REPLACE TABLE q_latest AS "
            "SELECT g, x, v FROM q_src "
            "QUALIFY row_number() OVER (PARTITION BY g ORDER BY x DESC) = 1"
        ),
        schema="dev_db",
        pipeline=p,
    )
    seed >> t
    p.run(spark)
    rows = {(r.g, r.x, r.v) for r in spark.table("dev_db.q_latest").collect()}
    assert rows == {(1, 20, "b"), (2, 5, "c")}
    assert any("__qualify__" in s for s in t.executed)
    # rewritten schema must NOT leak the helper column
    assert set(spark.table("dev_db.q_latest").columns) == {"g", "x", "v"}


# -- property-based robustness (same strategy as test_sqlsplit) -------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,8}", fullmatch=True).filter(
    # an identifier spelled exactly QUALIFY would legitimately trigger the
    # top-level keyword scan — not the property under test
    lambda s: s.upper() != "QUALIFY"
)


@given(
    cols=st.lists(_ident, min_size=1, max_size=4),
    tbl=_ident,
    lit=st.text(
        alphabet=st.characters(blacklist_characters="'", min_codepoint=32,
                               max_codepoint=126),
        max_size=12,
    ),
)
@settings(max_examples=60, deadline=None)
def test_no_qualify_means_identity(cols, tbl, lit):
    """Any SELECT without a top-level QUALIFY — including QUALIFY inside a
    string literal or subquery — passes through byte-identical."""
    sql = (
        f"SELECT {', '.join(cols)} FROM {tbl} "
        f"WHERE c = '{lit} QUALIFY x' AND id IN (SELECT id FROM {tbl})"
    )
    assert rewrite_qualify(sql) == sql


@given(cols=st.lists(_ident, min_size=1, max_size=4, unique=True), tbl=_ident)
@settings(max_examples=60, deadline=None)
def test_qualify_rewrite_always_wraps(cols, tbl):
    """Rewrite of a well-formed QUALIFY always produces the EXCEPT-wrapped
    form, keeps the predicate verbatim, and never leaks the QUALIFY
    keyword."""
    pred = f"row_number() OVER (PARTITION BY {cols[0]} ORDER BY {cols[-1]}) = 1"
    out = rewrite_qualify(f"SELECT {', '.join(cols)} FROM {tbl} QUALIFY {pred}")
    assert out.startswith("SELECT * EXCEPT (__qualify__)")
    assert pred in out
    assert "QUALIFY" not in out


def test_qualify_distinct_rejected():
    """Snowflake evaluates QUALIFY before DISTINCT; the wrap would invert
    that, so DISTINCT heads are refused loudly (ADVICE r3)."""
    import pytest

    with pytest.raises(ValueError, match="DISTINCT"):
        rewrite_qualify(
            "SELECT DISTINCT a FROM t "
            "QUALIFY row_number() OVER (ORDER BY a) = 1"
        )


def test_dialect_substitution_skips_string_literals():
    """Keyword substitutions are quote-aware: a dialect spelling inside a
    string literal is data, not syntax (ADVICE r3)."""
    from bfs_etl_sep2025_spark.plans.sqlsplit import sub_unquoted
    from bfs_etl_sep2025_spark.plans.tasks import _IFF, _SYSDATE

    assert (
        sub_unquoted(_IFF, "IF(", "SELECT 'IFF(x)' AS note, IFF(a, b, c)")
        == "SELECT 'IFF(x)' AS note, IF(a, b, c)"
    )
    assert (
        sub_unquoted(_SYSDATE, "NOW", "SELECT 'sysdate()' AS s, sysdate()")
        == "SELECT 'sysdate()' AS s, NOW"
    )
