"""Dialect shim: Snowflake SQL-UDF DDL and session variables translate onto
their native Spark 4 twins (CREATE TEMPORARY FUNCTION ... RETURN, DECLARE /
SET VAR, $name references) and execute end-to-end through SqlTask."""

from __future__ import annotations

from datetime import date, datetime

import pytest

from bfs_etl_sep2025_spark.plans import Pipeline, SqlTask
from bfs_etl_sep2025_spark.plans.tasks import (
    RunContext,
    _snow_type,
    _translate_create_function,
)

FROZEN = datetime(2024, 3, 1, 12, 0, 0)


def _run(spark, sql, task_id="t"):
    with Pipeline(
        "dialect_funcs",
        schedule="@daily",
        start_date=date(2024, 3, 1),
        clock=lambda: FROZEN,
    ) as p:
        task = SqlTask(task_id, sql=sql)
    p.run(spark, run_date=datetime(2024, 3, 1))
    return task


# -- pure translation ---------------------------------------------------------


def test_snowflake_types_map():
    assert _snow_type("NUMBER") == "DECIMAL(38,0)"
    assert _snow_type("NUMBER(10,2)") == "DECIMAL(10,2)"
    assert _snow_type("FLOAT") == "DOUBLE"
    assert _snow_type("VARCHAR(250)") == "STRING"
    assert _snow_type("datetime") == "TIMESTAMP_NTZ"
    assert _snow_type("BOOLEAN") == "BOOLEAN"


def test_create_function_string_body_translates():
    out = _translate_create_function(
        "CREATE OR REPLACE FUNCTION area(r FLOAT) RETURNS FLOAT AS "
        "'pi() * r * r'"
    )
    assert out == (
        "CREATE OR REPLACE TEMPORARY FUNCTION area(r DOUBLE) "
        "RETURNS DOUBLE RETURN pi() * r * r"
    )


def test_create_function_unescapes_quoted_quotes():
    out = _translate_create_function(
        "CREATE FUNCTION lbl(x NUMBER) RETURNS VARCHAR AS "
        "'concat(''id-'', x)'"
    )
    assert "RETURN concat('id-', x)" in out


def test_create_function_dollar_body_translates():
    out = _translate_create_function(
        "CREATE FUNCTION f(a NUMBER(10,2), b NUMBER(10,2)) RETURNS "
        "NUMBER(10,2) AS $$ a + b $$"
    )
    assert out == (
        "CREATE OR REPLACE TEMPORARY FUNCTION f(a DECIMAL(10,2), "
        "b DECIMAL(10,2)) RETURNS DECIMAL(10,2) RETURN a + b"
    )


def test_native_spark_return_form_passes_through():
    assert (
        _translate_create_function(
            "CREATE FUNCTION g(x INT) RETURNS INT RETURN x + 1"
        )
        is None
    )


# -- end-to-end through SqlTask ----------------------------------------------


def test_sql_udf_ddl_executes_and_inlines(spark):
    t = _run(
        spark,
        [
            "CREATE OR REPLACE FUNCTION sf_area(r FLOAT) RETURNS FLOAT AS "
            "'3.0 * r * r'",
            "CREATE OR REPLACE TABLE dialect_udf_out AS "
            "SELECT sf_area(2.0) AS a",
        ],
    )
    assert any("TEMPORARY FUNCTION sf_area" in s for s in t.executed)
    assert spark.table("dialect_udf_out").collect()[0].a == 12.0


def test_iff_translates_inside_function_body(spark):
    _run(
        spark,
        [
            "CREATE OR REPLACE FUNCTION sf_sign(x NUMBER) RETURNS VARCHAR "
            "AS 'IFF(x >= 0, ''pos'', ''neg'')'",
            "CREATE OR REPLACE TABLE dialect_iff_out AS "
            "SELECT sf_sign(-3) AS s",
        ],
    )
    assert spark.table("dialect_iff_out").collect()[0].s == "neg"


def test_session_variable_set_and_reference(spark):
    t = _run(
        spark,
        [
            "SET unit_price = 2.5",
            "CREATE OR REPLACE TABLE dialect_var_out AS "
            "SELECT $unit_price * 4 AS total",
        ],
    )
    assert any("DECLARE OR REPLACE VARIABLE unit_price" in s for s in t.executed)
    assert spark.table("dialect_var_out").collect()[0].total == 10.0


def test_dollar_ref_inside_string_literal_is_data(spark):
    _run(
        spark,
        [
            "SET who = 'ops'",
            "CREATE OR REPLACE TABLE dialect_lit_out AS "
            "SELECT '$who' AS raw, $who AS resolved",
        ],
    )
    row = spark.table("dialect_lit_out").collect()[0]
    assert row.raw == "$who"
    assert row.resolved == "ops"


def test_unset_drops_variable(spark):
    _run(spark, ["SET tmpv = 1", "UNSET tmpv"])
    with pytest.raises(Exception, match="(?i)variable|resolve|cannot"):
        spark.sql("SELECT tmpv").collect()


def test_subquery_set_refuses_loudly(spark):
    with pytest.raises(ValueError, match="subquery is unsupported"):
        _run(spark, "SET cutoff = (SELECT max(id) FROM range(10))")


def test_spark_conf_set_untouched():
    """A dotted conf key must not be mistaken for a session variable."""
    from bfs_etl_sep2025_spark.plans.tasks import _SNOW_SET_VAR

    assert _SNOW_SET_VAR.match("SET spark.sql.shuffle.partitions=8") is None
    assert _SNOW_SET_VAR.match("SET VAR x = 1") is None


# -- property tests -----------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_IDENT = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,20}", fullmatch=True)
_SNOW_TYPES = st.sampled_from(
    ["NUMBER", "NUMBER(10,2)", "FLOAT", "VARCHAR", "VARCHAR(250)", "INT",
     "BOOLEAN", "datetime"]
)
# expression text without quotes/backslashes — quoting is exercised by the
# dedicated '' test; parens allowed (NUMBER(10,2) args must not split)
_EXPR = st.from_regex(r"[A-Za-z0-9_+\-*/%(), .]{1,40}", fullmatch=True)


@settings(max_examples=200, deadline=None)
@given(
    name=_IDENT,
    args=st.lists(st.tuples(_IDENT, _SNOW_TYPES), max_size=4),
    rtype=_SNOW_TYPES,
    body=_EXPR,
    dollar=st.booleans(),
)
def test_create_function_translation_shape(name, args, rtype, body, dollar):
    """Any well-formed Snowflake SQL-UDF DDL translates to exactly one
    Spark CREATE TEMPORARY FUNCTION with every arg type mapped and the body
    carried verbatim (modulo quote unescaping)."""
    arg_sql = ", ".join(f"{n} {t}" for n, t in args)
    wrapped = f"$$ {body} $$" if dollar else "'" + body.replace("'", "''") + "'"
    stmt = (
        f"CREATE OR REPLACE FUNCTION {name}({arg_sql}) "
        f"RETURNS {rtype} AS {wrapped}"
    )
    out = _translate_create_function(stmt)
    assert out is not None
    assert out.startswith(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(")
    assert f"RETURNS {_snow_type(rtype)} RETURN" in out
    assert body.strip() in out
    for n, t in args:
        assert f"{n} {_snow_type(t)}" in out
    # no Snowflake spellings survive in the signature
    head = out.split(" RETURN ", 1)[0]
    assert "NUMBER" not in head and "VARCHAR" not in head


@settings(max_examples=100, deadline=None)
@given(body=st.text(alphabet="abc xy'z+-1", min_size=1, max_size=30))
def test_create_function_quote_unescape_roundtrip(body):
    """String-literal bodies with any mix of embedded quotes unescape to
    exactly the original body."""
    escaped = body.replace("'", "''")
    out = _translate_create_function(
        f"CREATE FUNCTION q(x INT) RETURNS INT AS '{escaped}'"
    )
    assert out is not None
    assert out.endswith(f"RETURN {body.strip()}")


# -- VARIANT colon-path -------------------------------------------------------


def test_colon_path_regex_translation():
    from bfs_etl_sep2025_spark.plans.sqlsplit import sub_unquoted
    from bfs_etl_sep2025_spark.plans.tasks import _COLON_PATH

    sub = lambda s: sub_unquoted(_COLON_PATH, r"variant_get(\1, '$.\2')", s)  # noqa: E731
    assert sub("SELECT v:a.b FROM t") == "SELECT variant_get(v, '$.a.b') FROM t"
    assert sub("v:arr[1].x") == "variant_get(v, '$.arr[1].x')"
    # casts, quoted strings, and times never match
    assert sub("CAST(x AS INT)::STRING") == "CAST(x AS INT)::STRING"
    assert sub("v::INT") == "v::INT"
    assert sub("SELECT '12:30' AS t, 'a:b' AS s") == "SELECT '12:30' AS t, 'a:b' AS s"


def test_colon_path_executes_on_variant(spark):
    _run(
        spark,
        [
            """CREATE OR REPLACE TABLE colon_src AS
               SELECT parse_json('{"a": {"b": 7}, "arr": [10, 20]}') AS v""",
            """CREATE OR REPLACE TABLE colon_out AS
               SELECT CAST(v:a.b AS INT) AS ab, CAST(v:arr[1] AS INT) AS a1
               FROM colon_src""",
        ],
    )
    row = spark.table("colon_out").collect()[0]
    assert row.ab == 7
    assert row.a1 == 20


def test_struct_type_colons_untouched(spark):
    """Colons inside generic type syntax (STRUCT<name:type>) are field/type
    separators, not VARIANT paths — the span guard must skip them."""
    from bfs_etl_sep2025_spark.plans.tasks import _sub_colon_paths

    ddl = "CREATE TABLE t (c STRUCT<a:INT, b:STRING>, m MAP<STRING,INT>)"
    assert _sub_colon_paths(ddl) == ddl
    cast = "SELECT CAST(x AS STRUCT<a:INT>) FROM t"
    assert _sub_colon_paths(cast) == cast
    _run(
        spark,
        [
            "CREATE OR REPLACE TABLE struct_colon_out AS "
            "SELECT named_struct('a', 1) AS c",
            "CREATE OR REPLACE TABLE struct_colon_out2 AS "
            "SELECT CAST(c AS STRUCT<a:INT>).a AS a FROM struct_colon_out",
        ],
    )
    assert spark.table("struct_colon_out2").collect()[0].a == 1


def test_qualified_colon_path_translates():
    from bfs_etl_sep2025_spark.plans.tasks import _sub_colon_paths

    assert (
        _sub_colon_paths("SELECT t.v:payload.id FROM events t")
        == "SELECT variant_get(t.v, '$.payload.id') FROM events t"
    )


def test_set_with_quoted_select_is_a_plain_value(spark):
    t = _run(spark, "SET msg = 'please select one'")
    assert any("DECLARE OR REPLACE VARIABLE msg" in s for s in t.executed)
    assert spark.sql("SELECT msg AS m").collect()[0].m == "please select one"


def test_unclosed_angle_is_comparison_not_type_span():
    """`struct < 5` is a comparison against a column named struct, not an
    unclosed generic type — the span scan must not swallow the rest of the
    statement and suppress VARIANT translation after it (ADVICE r4)."""
    from bfs_etl_sep2025_spark.plans.tasks import (
        _generic_type_spans,
        _sub_colon_paths,
    )

    stmt = "SELECT * FROM t WHERE struct < 5 AND v:a.b = 1"
    assert _generic_type_spans(stmt) == []
    assert (
        _sub_colon_paths(stmt)
        == "SELECT * FROM t WHERE struct < 5 AND variant_get(v, '$.a.b') = 1"
    )


def test_quoted_angle_opens_no_type_span():
    """A quoted 'MAP<' is data: it opens no type span for a later
    comparison's '>' to close, so the colon path between them translates."""
    from bfs_etl_sep2025_spark.plans.tasks import _sub_colon_paths

    assert (
        _sub_colon_paths("SELECT 'MAP<' AS s, v:a FROM t WHERE n > 1")
        == "SELECT 'MAP<' AS s, variant_get(v, '$.a') FROM t WHERE n > 1"
    )
    # a CLOSED generic span after the comparison still shields its colons
    mixed = "SELECT CAST(x AS STRUCT<a:INT>) FROM t WHERE map < 3 AND v:k = 1"
    assert (
        _sub_colon_paths(mixed)
        == "SELECT CAST(x AS STRUCT<a:INT>) FROM t WHERE map < 3 "
        "AND variant_get(v, '$.k') = 1"
    )


def test_unrecognized_dollar_body_refuses_loudly(spark):
    """A $$ body the CREATE FUNCTION translator does not recognize (e.g. a
    JavaScript stored procedure) must fail with the real cause, not be
    mangled by the $name pass into an unrelated parse error (ADVICE r4)."""
    with pytest.raises(ValueError, match=r"\$\$-delimited body"):
        _run(
            spark,
            "CREATE OR REPLACE PROCEDURE p() RETURNS STRING "
            "LANGUAGE JAVASCRIPT AS $$ return V1 + $x; $$",
        )


def test_quoted_dollar_dollar_is_data(spark):
    t = _run(spark, "CREATE OR REPLACE TABLE dd_out AS SELECT '$$' AS s")
    assert spark.table("dd_out").collect()[0].s == "$$"


# -- property-based: quote-aware dialect substitution (VERDICT r5 item 8) ---

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

#: segment constructors: (code_form, translated_form) — literal/comment
#: segments must ride through _translate byte-identical, code segments must
#: always be rewritten.
_IFF_CODE = ("IFF(c > 1, 1, 0)", "IF(c > 1, 1, 0)")
_SYS_CODE = ("sysdate()", "TIMESTAMP '2024-03-01 12:00:00'")
_DOLLAR_CODE = ("$myvar", "myvar")
_OBJ_CODE = ("OBJECT_CONSTRUCT('k', 1)", "named_struct('k', 1)")
_ARR_CODE = ("ARRAY_CONSTRUCT(1, 2)", "array(1, 2)")
_FLAT_CODE = ("FLATTEN(input => v)", "variant_explode(v)")
_S2T_CODE = (
    "SPLIT_TO_TABLE(upper(v), ',')",
    "posexplode(split(upper(v), concat('\\\\Q', "
    "replace(',', '\\\\E', '\\\\E\\\\\\\\E\\\\Q'), '\\\\E')))",
)
_PROTECTED = [
    "'IFF(a,b,c) and sysdate() and $v'",  # single-quoted literal
    "'it''s IFF(x) o''clock sysdate()'",  # escaped quotes inside literal
    '"IFF"',  # quoted identifier
    "/* IFF(1,2,3) sysdate() $v */",  # block comment
    "-- IFF(9) sysdate() $v\n",  # line comment (newline-terminated)
    "'OBJECT_CONSTRUCT(a) FLATTEN(input => b) SPLIT_TO_TABLE(c, d)'",
]
_seg = st.one_of(
    st.sampled_from(
        [
            _IFF_CODE,
            _SYS_CODE,
            _DOLLAR_CODE,
            _OBJ_CODE,
            _ARR_CODE,
            _FLAT_CODE,
            _S2T_CODE,
        ]
    ),
    st.sampled_from([(p, p) for p in _PROTECTED]),
    st.just(("col_a", "col_a")),
)


@given(segs=st.lists(_seg, min_size=1, max_size=8))
@settings(max_examples=80, deadline=None)
def test_translate_rewrites_only_unquoted_spans(segs):
    """Random interleavings of dialect keywords inside and outside string
    literals, quoted identifiers, and comments: _translate rewrites every
    CODE occurrence and never touches a protected span."""
    from bfs_etl_sep2025_spark.plans.tasks import RunContext, SqlTask

    stmt = "SELECT " + " , ".join(code for code, _ in segs)
    want = "SELECT " + " , ".join(xlated for _, xlated in segs)
    task = SqlTask.__new__(SqlTask)  # translation needs no pipeline wiring
    task.task_id = "prop"
    ctx = RunContext(
        spark=None, pipeline=None, logical_date=FROZEN, clock=lambda: FROZEN
    )
    out = task._translate(stmt, ctx)
    assert out == [want]


# -- CREATE TABLE ... CLONE ----------------------------------------------------


def test_clone_executes_as_full_copy(spark):
    """Snowflake CREATE TABLE ... CLONE runs as CTAS: the clone holds the
    source's rows at clone time and is INDEPENDENT of later source
    writes; OR REPLACE + TRANSIENT spellings take the same path."""
    _run(
        spark,
        [
            "CREATE OR REPLACE TABLE clone_src (id INT, v STRING)",
            "INSERT INTO clone_src VALUES (1, 'a'), (2, 'b')",
            "CREATE OR REPLACE TRANSIENT TABLE clone_dst CLONE clone_src",
            "INSERT INTO clone_src VALUES (3, 'c')",
        ],
        task_id="clone",
    )
    src = spark.sql("SELECT count(*) n FROM clone_src").first()["n"]
    dst = spark.sql("SELECT count(*) n FROM clone_dst").first()["n"]
    assert (src, dst) == (3, 2)
    got = {
        (r["id"], r["v"])
        for r in spark.sql("SELECT * FROM clone_dst").collect()
    }
    assert got == {(1, "a"), (2, "b")}
    spark.sql("DROP TABLE IF EXISTS clone_src")
    spark.sql("DROP TABLE IF EXISTS clone_dst")


def test_clone_at_timestamp_refuses_loudly(spark):
    """Time-travel clones of an UNREGISTERED source still refuse loudly,
    naming the registration hook instead of a downstream parse error.
    (Registered VersionedTable sources clone fine — see
    tests/test_timetravel.py::test_clone_at_version_ctas.)"""
    with pytest.raises(Exception, match="register_versioned_table"):
        _run(
            spark,
            "CREATE TABLE c2 CLONE src AT (TIMESTAMP => '2024-01-01')",
            task_id="clone_at",
        )


def test_clone_inside_string_is_data(spark):
    """A 'CLONE' inside a literal is data, not syntax (the statement is
    not CREATE TABLE-shaped, so the anchored rewrite never fires)."""
    _run(
        spark,
        "CREATE OR REPLACE TABLE clone_msg AS SELECT 'do not CLONE me' AS m",
        task_id="clone_str",
    )
    assert spark.sql("SELECT m FROM clone_msg").first()["m"] == "do not CLONE me"
    spark.sql("DROP TABLE IF EXISTS clone_msg")


def test_semistructured_constructors_translate(spark):
    """OBJECT_CONSTRUCT/ARRAY_CONSTRUCT map to named_struct/array; the
    spellings inside string literals stay data. DATEADD/DATEDIFF/DECODE/
    NVL2 pass through untranslated — Spark 4 has the Snowflake-shaped
    forms natively."""
    _run(
        spark,
        "CREATE OR REPLACE TABLE semistruct_t AS SELECT "
        "OBJECT_CONSTRUCT('k', 7, 'tag', 'x') AS o, "
        "ARRAY_CONSTRUCT(3, 1, 2) AS a, "
        "DATEADD(DAY, 2, TIMESTAMP '2024-03-01') AS d2, "
        "DATEDIFF(DAY, TIMESTAMP '2024-03-01', TIMESTAMP '2024-03-05') AS dd, "
        "DECODE(2, 1, 'one', 2, 'two', 'other') AS dec, "
        "'ARRAY_CONSTRUCT(raw)' AS msg",
        task_id="semistruct",
    )
    r = spark.sql(
        "SELECT o.k, o.tag, a, d2, dd, dec, msg FROM semistruct_t"
    ).first()
    assert (r["k"], r["tag"]) == (7, "x")
    assert r["a"] == [3, 1, 2]
    assert str(r["d2"]).startswith("2024-03-03")
    assert r["dd"] == 4 and r["dec"] == "two"
    assert r["msg"] == "ARRAY_CONSTRUCT(raw)"
    spark.sql("DROP TABLE IF EXISTS semistruct_t")


def test_lateral_flatten_translates_to_variant_explode(spark):
    """Snowflake LATERAL FLATTEN(input => x) runs as Spark's LATERAL
    variant_explode: key/value line up, Snowflake's INDEX is pos."""
    _run(
        spark,
        "CREATE OR REPLACE TABLE flat_t AS "
        "SELECT f.pos, CAST(f.value AS INT) AS item "
        "FROM VALUES (parse_json('[10, 20, 30]')) AS t(arr), "
        "LATERAL FLATTEN(input => t.arr) f",
        task_id="flatten",
    )
    rows = {
        (r["pos"], r["item"])
        for r in spark.sql("SELECT * FROM flat_t").collect()
    }
    assert rows == {(0, 10), (1, 20), (2, 30)}
    spark.sql("DROP TABLE IF EXISTS flat_t")


def test_sample_clause_translates_to_tablesample(spark):
    """Snowflake SAMPLE (n) / SAMPLE (n ROWS) / bare TABLESAMPLE (n) all
    normalize to Spark TABLESAMPLE; a quoted 'SAMPLE (10)' stays data."""
    spark.range(1000).createOrReplaceTempView("sample_src")
    _run(
        spark,
        [
            "CREATE OR REPLACE TABLE sample_rows AS "
            "SELECT * FROM sample_src SAMPLE (25 ROWS)",
            "CREATE OR REPLACE TABLE sample_pct AS "
            "SELECT * FROM sample_src TABLESAMPLE (10)",
            "CREATE OR REPLACE TABLE sample_msg AS "
            "SELECT 'use SAMPLE (10) wisely' AS m",
        ],
        task_id="sampleclause",
    )
    assert spark.sql("SELECT count(*) n FROM sample_rows").first()["n"] == 25
    pct = spark.sql("SELECT count(*) n FROM sample_pct").first()["n"]
    assert 0 < pct < 1000  # Bernoulli percent sample, nondeterministic size
    assert (
        spark.sql("SELECT m FROM sample_msg").first()["m"]
        == "use SAMPLE (10) wisely"
    )
    for t in ("sample_rows", "sample_pct", "sample_msg"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_split_to_table_translates_to_posexplode(spark):
    """SPLIT_TO_TABLE(x, d) runs as LATERAL posexplode(split(x, d)) —
    VALUE is col, INDEX is pos; nested parens in the args survive the
    balanced-paren rewrite, and a quoted spelling stays data."""
    _run(
        spark,
        "CREATE OR REPLACE TABLE split_t AS "
        "SELECT t.id, f.pos, f.col AS word "
        "FROM VALUES (1, 'a b c'), (2, 'x') AS t(id, v), "
        "LATERAL SPLIT_TO_TABLE(upper(t.v), ' ') f",
        task_id="split2table",
    )
    rows = {
        (r["id"], r["pos"], r["word"])
        for r in spark.sql("SELECT * FROM split_t").collect()
    }
    assert rows == {(1, 0, "A"), (1, 1, "B"), (1, 2, "C"), (2, 0, "X")}
    _run(
        spark,
        "CREATE OR REPLACE TABLE split_msg AS "
        "SELECT 'see SPLIT_TO_TABLE(v, c) docs' AS m",
        task_id="split_msg",
    )
    assert "SPLIT_TO_TABLE" in spark.sql("SELECT m FROM split_msg").first()["m"]
    spark.sql("DROP TABLE IF EXISTS split_t")
    spark.sql("DROP TABLE IF EXISTS split_msg")


def test_split_to_table_delimiter_is_literal_not_regex(spark):
    """Snowflake's SPLIT_TO_TABLE delimiter is a literal string; '.' must
    split on dots, not behave as the match-anything regex."""
    _run(
        spark,
        "CREATE OR REPLACE TABLE split_dot AS "
        "SELECT f.pos, f.col AS part "
        "FROM VALUES ('a.b.c') AS t(v), LATERAL SPLIT_TO_TABLE(t.v, '.') f",
        task_id="splitdot",
    )
    rows = {
        (r["pos"], r["part"])
        for r in spark.sql("SELECT * FROM split_dot").collect()
    }
    assert rows == {(0, "a"), (1, "b"), (2, "c")}
    spark.sql("DROP TABLE IF EXISTS split_dot")


def test_bare_flatten_is_sparks_builtin(spark):
    """flatten(array_of_arrays) is a real Spark builtin — only the
    Snowflake named-argument form FLATTEN(input => x) rewrites."""
    _run(
        spark,
        "CREATE OR REPLACE TABLE flat_builtin AS "
        "SELECT flatten(array(array(1, 2), array(3))) AS a",
        task_id="flatbuiltin",
    )
    assert spark.sql("SELECT a FROM flat_builtin").first()["a"] == [1, 2, 3]
    spark.sql("DROP TABLE IF EXISTS flat_builtin")


def test_generator_rowcount_translates_to_range(spark):
    """TABLE(GENERATOR(ROWCOUNT => n)) runs as range(n); seq4()/seq8()
    map to range's id column — the canonical Snowflake row-generator
    pattern works verbatim."""
    _run(
        spark,
        "CREATE OR REPLACE TABLE gen_t AS "
        "SELECT seq4() AS n, seq8() * 2 AS n2 "
        "FROM TABLE(GENERATOR(ROWCOUNT => 5))",
        task_id="generator",
    )
    rows = sorted(
        (r["n"], r["n2"]) for r in spark.sql("SELECT * FROM gen_t").collect()
    )
    assert rows == [(0, 0), (1, 2), (2, 4), (3, 6), (4, 8)]
    spark.sql("DROP TABLE IF EXISTS gen_t")


def test_ratio_to_report_translates_to_window_share(spark):
    """RATIO_TO_REPORT(x) OVER (PARTITION BY g) runs as x / SUM(x) OVER
    (...); nested parens in the argument survive, a quoted spelling stays
    data, and a call without OVER is left for Spark's own error."""
    _run(
        spark,
        "CREATE OR REPLACE TABLE rtr_t AS "
        "SELECT g, v, RATIO_TO_REPORT(v * (1 + 0)) OVER (PARTITION BY g) AS share, "
        "'RATIO_TO_REPORT(v)' AS msg "
        "FROM VALUES ('a', 1.0), ('a', 3.0), ('b', 2.0) AS t(g, v)",
        task_id="rtr",
    )
    rows = {
        (r["g"], r["v"], r["share"], r["msg"])
        for r in spark.sql("SELECT * FROM rtr_t").collect()
    }
    assert rows == {
        ("a", 1.0, 0.25, "RATIO_TO_REPORT(v)"),
        ("a", 3.0, 0.75, "RATIO_TO_REPORT(v)"),
        ("b", 2.0, 1.0, "RATIO_TO_REPORT(v)"),
    }
    spark.sql("DROP TABLE IF EXISTS rtr_t")
