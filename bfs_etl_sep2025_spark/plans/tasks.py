"""Task types: the reference's operator set rebuilt Spark-native.

- ``EmptyTask``  <- EmptyOperator (``dags/empty_workflow_example.py:12-14``)
- ``BashTask``   <- BashOperator (``dags/complex_example.py:15-19``)
- ``SqlTask``    <- SnowflakeOperator in all five call shapes
                    (``dags/dev_db_test.py:41-70``): single string,
                    pyformat-parameterized, list of statements,
                    multi-statement string, templated ``.sql`` file.
- ``CsvCopyTask`` (sources.csv_copy) <- CopyFromExternalStageToSnowflakeOperator.

The SQL dialect shim accepts the reference's Snowflake spellings —
``CREATE OR REPLACE TRANSIENT TABLE`` (``dags/dev_db_test.py:22``,
``dags/dev_db_test.sql:1``), the ``datetime`` column type and ``sysdate()``
(``dags/dev_db_test.sql:1,3``) — and maps them onto Spark SQL. ``sysdate()``
renders through the pipeline's injectable clock so audit columns are
deterministic under test (SURVEY §5.4).
"""

from __future__ import annotations

import re
import subprocess
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path
from typing import TYPE_CHECKING, Any

from bfs_etl_sep2025_spark.plans.qualify import rewrite_qualify
from bfs_etl_sep2025_spark.plans.sqlsplit import (
    blank_quoted,
    finditer_unquoted,
    ident_key,
    match_close,
    split_statements,
    split_top_level,
    sub_unquoted,
    unquoted_positions,
)
from bfs_etl_sep2025_spark.plans.templating import build_context, render_any

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

    from bfs_etl_sep2025_spark.plans.pipeline import Pipeline


@dataclass
class RunContext:
    """Everything a task sees at execution time for one logical date."""

    spark: SparkSession
    pipeline: Pipeline
    logical_date: datetime
    clock: Callable[[], datetime]
    defaults: Mapping[str, Any] = field(default_factory=dict)

    @property
    def template_context(self) -> dict[str, Any]:
        return build_context(self.logical_date)

    def render(self, value: Any) -> Any:
        return render_any(value, self.template_context)


class Task:
    """DAG node. ``>>`` / ``<<`` build edges exactly like the reference
    (``dags/empty_workflow_example.py:16``, ``dags/dev_db_test.py:74-83``)."""

    def __init__(
        self,
        task_id: str,
        pipeline: Pipeline | None = None,
        **params: Any,
    ) -> None:
        from bfs_etl_sep2025_spark.plans.pipeline import Pipeline

        self.task_id = task_id
        self.params = params
        self.upstream: set[str] = set()
        self.downstream: set[str] = set()
        self.pipeline: Pipeline | None = None
        pipe = pipeline or Pipeline.current()
        if pipe is not None:
            pipe.add_task(self)

    # -- wiring -----------------------------------------------------------
    def set_downstream(self, other: Task) -> None:
        self.downstream.add(other.task_id)
        other.upstream.add(self.task_id)

    def __rshift__(
        self, other: Task | Sequence[Task]
    ) -> Task | Sequence[Task]:
        for o in other if isinstance(other, (list, tuple)) else [other]:
            self.set_downstream(o)
        return other

    def __lshift__(
        self, other: Task | Sequence[Task]
    ) -> Task | Sequence[Task]:
        for o in other if isinstance(other, (list, tuple)) else [other]:
            o.set_downstream(self)
        return other

    def __repr__(self) -> str:
        return f"<{type(self).__name__} {self.task_id}>"

    # -- execution --------------------------------------------------------
    def merged_params(self, ctx: RunContext) -> dict[str, Any]:
        """default_args-style merge: pipeline defaults under task params
        (``dags/dev_db_test.py:35-38`` propagates the conn id this way)."""
        return {**ctx.defaults, **self.params}

    def run(self, ctx: RunContext) -> None:
        self.execute(ctx)

    def execute(self, ctx: RunContext) -> None:
        raise NotImplementedError


class EmptyTask(Task):
    """No-op marker/join node (EmptyOperator parity)."""

    def execute(self, ctx: RunContext) -> None:
        return None


class BashTask(Task):
    """Run a shell command driver-side (BashOperator parity). Commands are
    logical-date-templated like every operator arg. Non-zero exit raises."""

    def __init__(
        self, task_id: str, bash_command: str, pipeline: Pipeline | None = None, **kw: Any
    ) -> None:
        super().__init__(task_id, pipeline=pipeline, **kw)
        self.bash_command = bash_command
        self.last_output: str | None = None

    def execute(self, ctx: RunContext) -> None:
        cmd = ctx.render(self.bash_command)
        proc = subprocess.run(
            cmd, shell=True, capture_output=True, text=True, check=False
        )
        self.last_output = proc.stdout
        if proc.returncode != 0:
            raise RuntimeError(
                f"bash task {self.task_id!r} failed ({proc.returncode}): "
                f"{proc.stderr.strip()}"
            )


class PythonTask(Task):
    """Run a Python callable driver-side (Airflow PythonOperator parity —
    the standard glue the reference's operator family implies for steps
    that aren't shell or SQL). The callable receives the live
    ``SparkSession`` plus the task's logical-date-templated params and may
    return anything; the return value is kept on ``last_result`` so
    downstream assertions/tests can inspect it. Engine-native pipeline
    steps (DataFrame jobs, versioned-table commits) plug into the DAG
    through this task without round-tripping through SQL strings."""

    def __init__(
        self,
        task_id: str,
        python_callable: Callable[..., Any],
        pipeline: Pipeline | None = None,
        **kw: Any,
    ) -> None:
        super().__init__(task_id, pipeline=pipeline, **kw)
        self.python_callable = python_callable
        self.last_result: Any = None

    def execute(self, ctx: RunContext) -> None:
        params = {
            k: ctx.render(v) for k, v in self.merged_params(ctx).items()
        }
        self.last_result = self.python_callable(ctx.spark, **params)


#: statements whose execution writes a table -> serialized per target
_WRITE_TARGET = re.compile(
    r"(?i)^\s*(?:INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?"
    r"|CREATE\s+(?:OR\s+REPLACE\s+)?(?:TRANSIENT\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"|DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?"
    r"|TRUNCATE\s+TABLE\s+"
    r"|DELETE\s+FROM\s+"
    r"|UPDATE\s+"
    r"|MERGE\s+INTO\s+)"
    r"(?P<name>[\w.`\"]+)"
)

_TRANSIENT = re.compile(
    r"(?i)\bCREATE\s+(OR\s+REPLACE\s+)?TRANSIENT\s+TABLE\b"
)
_CREATE_OR_REPLACE = re.compile(
    r"(?i)^\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+(?P<name>[\w.`\"]+)"
)
#: CREATE TABLE ... CLONE <src> (Snowflake zero-copy clone). The shim
#: executes it as CTAS — semantically a full independent copy, which is
#: exactly what a clone reads as; zero-copy for catalog tables is a
#: storage optimization the plain-parquet catalog does not implement
#: (``plans.versioned.VersionedTable.clone`` provides the real manifest-
#: level zero-copy COW clone). Time-travel clones (CLONE ... AT/BEFORE)
#: are rewritten FIRST by the time-travel shim into a clone of the
#: snapshot view when the source is a registered VersionedTable; an
#: unrecognized tail still refuses loudly.
_CLONE = re.compile(
    r"(?i)^\s*(?P<head>CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+)"
    r"(?P<name>[\w.`\"]+)\s+CLONE\s+(?P<src>[\w.`\"]+)"
    r"(?P<tail>.*?)\s*;?\s*$",
    re.DOTALL,
)
#: Snowflake time travel: ``<table> AT(TIMESTAMP|OFFSET|STATEMENT => v)``
#: and ``BEFORE(...)`` — resolved against the versioned-table registry
#: (``plans.versioned.register_versioned_table``) to a snapshot temp view.
#: The head regex only anchors the clause; the operand is walked to its
#: balanced close and must parse as ``KEY => value`` or the text is left
#: untouched (an alias literally named AT never reaches resolution).
_TT_HEAD = re.compile(r"(?i)(?P<name>[\w.`\"]+)\s+(?P<kind>AT|BEFORE)\s*\(")
_TT_INNER = re.compile(
    r"(?is)^\s*(?P<key>TIMESTAMP|OFFSET|STATEMENT|VERSION)\s*=>\s*"
    r"(?P<val>.+?)\s*$"
)
_SYSDATE = re.compile(r"(?i)\bsysdate\s*\(\s*\)")
_IFF = re.compile(r"(?i)\bIFF\s*\(")
#: Snowflake semi-structured constructors -> Spark twins. OBJECT_CONSTRUCT
#: becomes named_struct (field access via dot, and the colon-path shim's
#: variant_get handles the VARIANT spelling); ARRAY_CONSTRUCT is array().
#: DATEADD/DATEDIFF/DECODE/NVL2 need no mapping — Spark 4 has the
#: Snowflake-shaped forms natively (probed: 3-arg dateadd/datediff,
#: search-form decode).
_OBJECT_CONSTRUCT = re.compile(r"(?i)\bOBJECT_CONSTRUCT\s*\(")
_ARRAY_CONSTRUCT = re.compile(r"(?i)\bARRAY_CONSTRUCT\s*\(")
#: Snowflake LATERAL FLATTEN(input => x) -> Spark LATERAL
#: variant_explode(x): key/value columns line up; Snowflake's INDEX is
#: Spark's pos; SEQ/PATH/THIS have no twin and surface as ordinary
#: unresolved-column errors naming the available (pos, key, value).
#: ONLY the named-argument form rewrites — bare ``flatten(x)`` is Spark's
#: own array-flattening builtin and must pass through untouched.
_FLATTEN = re.compile(r"(?i)\bFLATTEN\s*\(\s*input\s*=>\s*")
#: Snowflake SAMPLE clause -> Spark TABLESAMPLE. A bare number is percent
#: in both dialects, but Spark's parser requires the PERCENT keyword;
#: `(n ROWS)` carries over. BERNOULLI/ROW method names are Snowflake's
#: row-wise sampling, which is Spark TABLESAMPLE's only method anyway.
#: The numeric-only operand requirement keeps a scalar function named
#: sample(col) out of scope.
#: Snowflake row generator -> Spark range(): TABLE(GENERATOR(ROWCOUNT =>
#: n)) produces n rows; the canonical companion seq4()/seq8() sequence
#: functions map to range()'s id column. TIMELIMIT-driven generators have
#: no Spark twin and pass through to a loud parse error.
_GENERATOR = re.compile(
    r"(?i)\bTABLE\s*\(\s*GENERATOR\s*\(\s*ROWCOUNT\s*=>\s*(\d+)\s*\)\s*\)"
)
_SEQ_FN = re.compile(r"(?i)\bSEQ[48]\s*\(\s*\)")
_SAMPLE_ROWS = re.compile(
    r"(?i)\b(?:TABLE)?SAMPLE\s+(?:BERNOULLI\s*|ROW\s*)?"
    r"\(\s*(\d+)\s+ROWS\s*\)"
)
_SAMPLE_PCT = re.compile(
    r"(?i)\b(?:TABLE)?SAMPLE\s+(?:BERNOULLI\s*|ROW\s*)?"
    r"\(\s*(\d+(?:\.\d+)?)\s*\)"
)
_DATETIME_TYPE = re.compile(r"(?i)(\s)datetime\b")
_PYFORMAT = re.compile(r"%\((\w+)\)s")

# -- Snowflake SQL UDFs and session variables (Spark 4 native twins) --------

#: CREATE [OR REPLACE] FUNCTION f(args) RETURNS t [LANGUAGE SQL] AS
#: '<expr>' | $$<expr>$$  -> Spark's CREATE TEMPORARY FUNCTION ... RETURN.
#: The lazy args group stops at the FIRST ')' followed by RETURNS, so
#: parenthesized arg types (NUMBER(10,2)) parse correctly.
_SNOW_CREATE_FUNC = re.compile(
    r"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+(?P<name>[\w.]+)\s*"
    r"\((?P<args>.*?)\)\s*RETURNS\s+(?P<rtype>\w+(?:\s*\(\s*[\d\s,]*\s*\))?)\s*"
    r"(?:LANGUAGE\s+SQL\s+)?AS\s+(?P<body>'(?:[^']|'')*'|\$\$.*?\$\$)\s*;?\s*$"
)
#: Snowflake ``SET name = expr`` (session variable). Negative lookahead
#: keeps Spark's own SET VAR / SET VARIABLE spelling untouched; requiring a
#: bare identifier (no dots) keeps ``SET spark.conf.key=...`` untouched.
_SNOW_SET_VAR = re.compile(
    r"(?is)^\s*SET\s+(?!VAR\b|VARIABLE\b)(?P<name>[A-Za-z_]\w*)\s*=\s*"
    r"(?P<expr>.+?)\s*;?\s*$"
)
_SNOW_UNSET_VAR = re.compile(r"(?is)^\s*UNSET\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$")
#: ``$name`` variable references (Snowflake) -> bare name (Spark).
#: Snowflake session-variable references are STANDALONE ``$name`` tokens —
#: the lookbehind keeps object-name dollars intact (``SYSTEM$STREAM_HAS_DATA``,
#: ``METADATA$ACTION``), which the stream shim resolves at execution time.
_DOLLAR_VAR = re.compile(r"(?<![\w$])\$([A-Za-z_]\w*)")
_DOUBLE_DOLLAR = re.compile(r"\$\$")
_SELECT_KW = re.compile(r"(?i)SELECT\b")
#: Snowflake colon path extraction on VARIANT columns: ``col:a.b[0].c`` or
#: ``alias.col:a.b`` -> ``variant_get(col, '$.a.b[0].c')`` (2-arg form:
#: stays VARIANT, like Snowflake's GET_PATH). Guards: the left side is a
#: (possibly qualified) identifier, the colon is single (``::`` casts
#: untouched), the path starts with a letter (time literals like 12:30
#: never match — they are also inside quotes, which sub_unquoted already
#: protects), and matches inside generic TYPE syntax (``STRUCT<a:INT>``,
#: via :func:`_generic_type_spans`) are skipped.
_COLON_PATH = re.compile(
    r"(?<![:\w.])([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*):(?!:)"
    r"([A-Za-z_]\w*(?:\[\d+\])?(?:\.[A-Za-z_]\w*(?:\[\d+\])?)*)"
)
_GENERIC_TYPE_OPEN = re.compile(r"(?i)\b(STRUCT|MAP|ARRAY)\s*<")


def _generic_type_spans(text: str) -> list[tuple[int, int]]:
    """Character spans of generic type syntax (``STRUCT<...>`` etc.,
    nesting-aware) — colons inside them separate field names from types,
    not VARIANT paths. A ``<`` that never closes in-statement is NOT type
    syntax (``WHERE struct < 5 AND v:a = 1`` is a comparison against a
    column named struct) — an unclosed scan must not swallow the rest of
    the statement and suppress VARIANT translation there (ADVICE r4).
    Only code ``<``/``>`` count: a quoted ``'MAP<'`` opens nothing."""
    spans = []
    for m in finditer_unquoted(_GENERIC_TYPE_OPEN, text):
        # require the closing '>' to call it a type
        if end := match_close(text, m.end() - 1, "<>"):
            spans.append((m.start(), end))
    return spans


_SPLIT_TO_TABLE = re.compile(r"(?i)\bSPLIT_TO_TABLE\s*\(")


def _rewrite_split_to_table(text: str) -> str:
    """Snowflake ``SPLIT_TO_TABLE(x, d)`` (table function) -> Spark
    ``posexplode(split(x, <quoted d>))``: VALUE is Spark's ``col``, INDEX
    is ``pos`` (the FLATTEN column convention); SEQ has no twin. Two
    impedance fixes: the close paren must become TWO (the rewrite nests
    split() inside posexplode), so this walks to the matching unquoted
    ')' instead of regex-substituting; and Snowflake's delimiter is a
    LITERAL string while Spark ``split`` takes a Java regex, so the
    delimiter is wrapped in \\Q...\\E at runtime (any embedded ``\\E``
    re-escaped first, the BPE-merge quoting idiom) — ``'.'``/``'|'``
    split literally instead of per-character."""
    while True:
        m = next(finditer_unquoted(_SPLIT_TO_TABLE, text), None)
        if m is None:
            return text
        i = match_close(text, m.end() - 1)
        if i is None:  # unbalanced — leave for Spark's parser to complain
            return text
        inner = text[m.end() : i - 1]
        args = split_top_level(inner)
        if len(args) == 2:
            x, d = args
            quoted = (
                "concat('\\\\Q', "
                f"replace({d}, '\\\\E', '\\\\E\\\\\\\\E\\\\Q'), "
                "'\\\\E')"
            )
            body = f"posexplode(split({x}, {quoted}))"
        else:  # unexpected arity: leave the args as-is for Spark's error
            body = f"posexplode(split({inner}))"
        text = text[: m.start()] + body + text[i:]


def _resolve_time_travel(
    spark, task_id: str, name: str, kind: str, key: str, val: str, now
) -> str:
    """Resolve one AT/BEFORE clause to a snapshot TEMP VIEW name.

    Engine mapping of Snowflake's three operand kinds (reference
    chokepoint: arbitrary SQL via ``dags/dev_db_test.py:41-70``):

    - ``TIMESTAMP => <expr>``: evaluated by Spark as TIMESTAMP_NTZ (UTC,
      matching the session TZ) and resolved via
      :meth:`VersionedTable.version_at` on manifest commit instants;
      BEFORE uses strictly-less-than, like Snowflake.
    - ``OFFSET => <seconds>``: seconds relative to the pipeline clock
      (``ctx.clock`` — injectable, so tests pin it), usually negative.
    - ``STATEMENT|VERSION => <n>``: the engine's statement ids ARE commit
      versions (every DML lands exactly one manifest), so both spell a
      version number; BEFORE resolves to that commit's parent.
    """
    from datetime import timezone

    from bfs_etl_sep2025_spark.plans.versioned import (
        resolve_versioned_table,
    )

    name = ident_key(name)
    vt = resolve_versioned_table(spark, name)
    if vt is None or not vt.exists():
        raise ValueError(
            f"sql task {task_id!r}: {kind}(...) time travel on {name!r}, "
            "which is not a registered versioned table — the plain-parquet "
            "catalog keeps no history; create it as a "
            "plans.versioned.VersionedTable and expose it via "
            "register_versioned_table(name, root)"
        )
    strict = kind == "BEFORE"
    if key in ("STATEMENT", "VERSION"):
        try:
            v = int(val.strip().strip("'\""))
        except ValueError:
            raise ValueError(
                f"sql task {task_id!r}: {key} => {val!r} is not a commit "
                f"version of {name!r} (engine statement ids are the table's "
                "integer commit versions — see VersionedTable.history())"
            ) from None
        try:
            mf = vt._manifest(v)
        except FileNotFoundError:
            raise ValueError(
                f"sql task {task_id!r}: {name!r} has no committed "
                f"version {v} (history: "
                f"{[h['version'] for h in vt.history()]})"
            ) from None
        if strict:
            v = mf["parent"]
            if v <= 0:
                raise ValueError(
                    f"sql task {task_id!r}: BEFORE({key} => "
                    f"{val.strip()}) on {name!r} points before the first "
                    "commit — no snapshot exists there"
                )
    else:
        if key == "OFFSET":
            off = spark.sql(f"SELECT CAST(({val}) AS DOUBLE)").collect()[0][0]
            if off is None:
                raise ValueError(
                    f"sql task {task_id!r}: OFFSET => {val!r} did not "
                    "evaluate to a number of seconds"
                )
            base = now.replace(tzinfo=timezone.utc).timestamp()
            ts_us = int((base + float(off)) * 1_000_000)
        else:
            dt = spark.sql(
                f"SELECT CAST({val} AS TIMESTAMP_NTZ) AS t"
            ).collect()[0]["t"]
            if dt is None:
                raise ValueError(
                    f"sql task {task_id!r}: TIMESTAMP => {val!r} did not "
                    "evaluate to a timestamp"
                )
            ts_us = int(
                dt.replace(tzinfo=timezone.utc).timestamp() * 1_000_000
            )
        v = vt.version_at(ts_us, strict_before=strict)
    # keyed on the registered ROOT, not the SQL name (ADVICE r7): the same
    # snapshot queried twice — or under a re-registered alias — reuses ONE
    # catalog entry (createOrReplaceTempView of identical content), so a
    # long-lived session's catalog grows only with DISTINCT snapshots read,
    # and a later re-registration of the name to a different root can never
    # be masked by a stale view. The view must NOT be dropped eagerly:
    # statements like CREATE VIEW x AS SELECT ... AT(...) re-resolve it
    # lazily on every read of x.
    import hashlib

    root_key = hashlib.md5(vt.root.encode()).hexdigest()[:12]
    view = "__tt_" + re.sub(r"\W", "_", name) + f"_{root_key}_v{v}"
    vt.read(v).createOrReplaceTempView(view)
    return view


#: Snowflake stream metadata columns — '$' is not a bare-identifier
#: character in Spark SQL, so references are backtick-wrapped in place.
_METADATA_COL = re.compile(r"(?i)\bMETADATA\$(?:ACTION|ISUPDATE|ROW_ID)\b")
_STREAM_HAS_DATA = re.compile(
    r"(?i)\bSYSTEM\$STREAM_HAS_DATA\s*\(\s*'(?P<name>[^']+)'\s*\)"
)

_RATIO_TO_REPORT = re.compile(r"(?i)\bRATIO_TO_REPORT\s*\(")
_OVER_HEAD = re.compile(r"(?i)^\s*OVER\s*\(")


def _rewrite_ratio_to_report(text: str) -> str:
    """Snowflake ``RATIO_TO_REPORT(x) OVER (w)`` -> ``((x) / SUM(x) OVER
    (w))`` — the share-of-window idiom Spark has no named function for.
    The argument appears twice; Catalyst's common-subexpression
    elimination shares the evaluation. A call without an OVER clause is
    left untouched (Snowflake requires the clause; Spark's parser then
    reports the real error)."""
    while True:
        m = next(finditer_unquoted(_RATIO_TO_REPORT, text), None)
        if m is None:
            return text
        close = match_close(text, m.end() - 1)
        if close is None:
            return text
        expr = text[m.end() : close - 1]
        m_over = _OVER_HEAD.match(text[close:])
        if not m_over:
            return text
        over_close = match_close(text, close + m_over.end() - 1)
        if over_close is None:
            return text
        win = text[close + m_over.end() : over_close - 1]
        text = (
            text[: m.start()]
            + f"(({expr}) / SUM({expr}) OVER ({win}))"
            + text[over_close:]
        )


def _sub_colon_paths(text: str) -> str:
    spans = _generic_type_spans(text)

    def repl(m: re.Match[str]) -> str:
        if any(a <= m.start() < b for a, b in spans):
            return m.group(0)
        return f"variant_get({m.group(1)}, '$.{m.group(2)}')"

    return sub_unquoted(_COLON_PATH, repl, text)


def _snow_type(t: str) -> str:
    """Snowflake type spelling -> Spark type, for UDF signatures only (a
    table DDL's VARCHAR(250) etc. is already valid Spark and untouched).
    Snowflake FLOAT is a double; NUMBER defaults to (38,0); string types
    are unbounded in Spark so lengths drop."""
    m = re.match(r"(?is)^\s*(\w+)\s*(?:\(\s*([\d\s,]*)\s*\))?\s*$", t)
    if not m:
        return t.strip()
    base, args = m.group(1).upper(), m.group(2)
    if base == "NUMBER":
        return f"DECIMAL({args})" if args else "DECIMAL(38,0)"
    if base in ("FLOAT", "FLOAT4", "FLOAT8", "REAL", "DOUBLE"):
        return "DOUBLE"
    if base in ("VARCHAR", "CHAR", "TEXT", "STRING"):
        return "STRING"
    if base in ("DATETIME", "TIMESTAMP"):
        return "TIMESTAMP_NTZ"
    if base in ("INT", "INTEGER"):
        return "INT"
    return t.strip()


def _translate_create_function(stmt: str) -> str | None:
    """Rewrite a Snowflake SQL-UDF DDL (string/``$$`` body) into Spark 4's
    ``CREATE OR REPLACE TEMPORARY FUNCTION ... RETURN <body>`` form, or
    return None when ``stmt`` is not that shape (Spark's native RETURN form
    passes through the shim untouched). SQL UDFs inline into calling plans
    at analysis time, so the translated function costs nothing vs writing
    the expression inline — the right target for Snowflake's most common
    CREATE FUNCTION usage. Bodies are assumed SQL (the reference's
    warehouse defaults LANGUAGE SQL); JavaScript/Java bodies would need a
    LANGUAGE guard here if they ever appear."""
    m = _SNOW_CREATE_FUNC.match(stmt)
    if not m:
        return None
    args_sql = []
    raw_args = m.group("args").strip()
    if raw_args:
        for arg in split_top_level(raw_args):
            parts = arg.strip().split(None, 1)
            if len(parts) != 2:
                raise ValueError(
                    f"unsupported function argument {arg!r} (want 'name TYPE')"
                )
            args_sql.append(f"{parts[0]} {_snow_type(parts[1])}")
    body = m.group("body")
    if body.startswith("'"):
        body = body[1:-1].replace("''", "'")
    else:  # $$ ... $$
        body = body[2:-2]
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {m.group('name')}"
        f"({', '.join(args_sql)}) RETURNS {_snow_type(m.group('rtype'))} "
        f"RETURN {body.strip()}"
    )


def sql_literal(value: Any) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, datetime):
        return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
    s = str(value).replace("'", "''")
    return f"'{s}'"


class SqlTask(Task):
    """Execute SQL against the Spark session catalog — the rebuild of every
    ``SnowflakeOperator`` shape the reference uses.

    ``sql`` may be: one statement; a multi-statement string (split
    quote-aware); a list of either; or a path ending in ``.sql`` whose
    contents are loaded and logical-date-templated (A7,
    ``dags/dev_db_test.py:67-70``). ``parameters`` binds pyformat
    ``%(name)s`` placeholders (A4, ``dags/dev_db_test.py:24,50-58``).
    ``schema`` selects/creates the working database (the reference's
    database.schema session context, ``dags/dev_db_test.py:13-18``).
    """

    def __init__(
        self,
        task_id: str,
        sql: str | Sequence[str],
        parameters: Mapping[str, Any] | None = None,
        schema: str | None = None,
        sql_dir: str | Path | None = None,
        pipeline: Pipeline | None = None,
        **kw: Any,
    ) -> None:
        super().__init__(task_id, pipeline=pipeline, **kw)
        self.sql = sql
        self.parameters = dict(parameters or {})
        self.schema = schema
        self.sql_dir = Path(sql_dir) if sql_dir else None
        self.executed: list[str] = []  # rendered statements, for tests/audit

    # -- dialect shim -----------------------------------------------------
    def _translate(self, stmt: str, ctx: RunContext) -> list[str]:
        """Snowflake spelling -> Spark SQL, one input statement -> 1-2
        executable statements."""
        # Snowflake SQL-UDF DDL first, so the extracted body then flows
        # through the keyword substitutions below (IFF/sysdate inside a
        # function body translate like anywhere else).
        fn_ddl = _translate_create_function(stmt)
        if fn_ddl is not None:
            stmt = fn_ddl
        # All keyword substitutions are quote-aware (sub_unquoted): a
        # dialect spelling inside a string literal is data, not syntax.
        out = sub_unquoted(
            _TRANSIENT,
            lambda m: "CREATE OR REPLACE TABLE"
            if m.group(1)
            else "CREATE TABLE",
            stmt,
        )
        out = sub_unquoted(_DATETIME_TYPE, r"\1TIMESTAMP_NTZ", out)
        # sysdate() is UTC 'now' (the reference's audit column is
        # load_utc_ts) -> the injectable clock, as a literal.
        now = ctx.clock()
        out = sub_unquoted(
            _SYSDATE, f"TIMESTAMP '{now.isoformat(sep=' ')}'", out
        )
        # Snowflake IFF(cond, a, b) -> Spark IF (same ternary semantics;
        # listagg/split_part/nvl need no mapping — Spark 4 has them).
        out = sub_unquoted(_IFF, "IF(", out)
        out = sub_unquoted(_OBJECT_CONSTRUCT, "named_struct(", out)
        out = sub_unquoted(_ARRAY_CONSTRUCT, "array(", out)
        out = sub_unquoted(_FLATTEN, "variant_explode(", out)
        out = _rewrite_split_to_table(out)
        out = _rewrite_ratio_to_report(out)
        out = sub_unquoted(_GENERATOR, r"range(\1)", out)
        out = sub_unquoted(_SEQ_FN, "id", out)
        out = sub_unquoted(_SAMPLE_ROWS, r"TABLESAMPLE (\1 ROWS)", out)
        out = sub_unquoted(_SAMPLE_PCT, r"TABLESAMPLE (\1 PERCENT)", out)
        # Snowflake session variables: $name refs -> bare names (quote-aware
        # — a '$v' inside a string literal is data); SET name = expr ->
        # DECLARE OR REPLACE VARIABLE (Spark 4). DECLARE's DEFAULT cannot
        # hold a subquery, so a query-valued SET fails loudly rather than
        # silently mis-typing — spell those as native DECLARE + SET VAR.
        # A residual unquoted $$-delimited body at this point means a
        # Snowflake statement shape the CREATE FUNCTION translator did not
        # recognize (e.g. a JavaScript stored procedure): refuse NOW, with
        # the real cause, instead of letting the $name pass mangle the body
        # into an unrelated parse error downstream (ADVICE r4).
        if any(finditer_unquoted(_DOUBLE_DOLLAR, out)):
            raise ValueError(
                f"sql task {self.task_id!r}: statement carries a "
                "$$-delimited body the shim does not recognize (only "
                "CREATE FUNCTION ... AS $$<sql>$$ translates); rewrite it "
                "as Spark SQL or quote the '$$' if it is data"
            )
        out = sub_unquoted(_DOLLAR_VAR, r"\1", out)
        # Snowflake VARIANT colon-path (col:a.b) -> variant_get(col, '$.a.b')
        out = _sub_colon_paths(out)
        m_unset = _SNOW_UNSET_VAR.match(out)
        if m_unset:
            return [
                f"DROP TEMPORARY VARIABLE IF EXISTS {m_unset.group('name')}"
            ]
        m_set = _SNOW_SET_VAR.match(out)
        if m_set:
            expr_text = m_set.group("expr")
            # quote-aware: 'select' INSIDE a string value is data, not a
            # subquery (ADVICE-style rule; plain re.search would trip on
            # SET msg = 'please select one')
            has_subquery = any(finditer_unquoted(_SELECT_KW, expr_text))
            if has_subquery:
                raise ValueError(
                    f"sql task {self.task_id!r}: SET {m_set.group('name')} "
                    "from a subquery is unsupported by the shim (Spark "
                    "DECLARE DEFAULT takes no subquery); use DECLARE "
                    "VARIABLE <name> <type> plus SET VAR <name> = (SELECT "
                    "...) instead"
                )
            expr = m_set.group("expr").strip()
            if expr.startswith("("):
                # 'DEFAULT (expr)' parses the parenthesis as a TYPE clause
                # ("data type DEFAULT(...)"); a CASE wrapper keeps the value
                # and inferred type while starting with a keyword.
                expr = f"CASE WHEN TRUE THEN {expr} END"
            return [
                f"DECLARE OR REPLACE VARIABLE {m_set.group('name')} "
                f"DEFAULT {expr}"
            ]
        # Snowflake QUALIFY (reachable through the reference's arbitrary-SQL
        # pass-through) -> window+filter rewrite; no-op without QUALIFY.
        out = rewrite_qualify(out)
        # Snowflake time travel: <t> AT/BEFORE(key => v) -> a snapshot
        # temp view over the registered VersionedTable (VERDICT r6 item 2).
        # Runs before the CLONE rewrite so CREATE TABLE c CLONE t AT(...)
        # reduces to a plain CLONE of the snapshot view and takes the
        # ordinary CTAS path below.
        out = self._rewrite_time_travel(out, ctx)
        # Snowflake CLONE -> CTAS (full copy; see _CLONE). Runs after the
        # TRANSIENT rewrite so transient clones take the same path.
        m_clone = _CLONE.match(out)
        if m_clone:
            tail = m_clone.group("tail").strip()
            if tail:
                raise ValueError(
                    f"sql task {self.task_id!r}: CLONE with "
                    f"{tail.split()[0].upper()!r} is unsupported by the "
                    "shim (AT/BEFORE time-travel clones work when the "
                    "source is a registered VersionedTable; anything else "
                    "has no plain-parquet equivalent)"
                )
            out = (
                f"{m_clone.group('head')}{m_clone.group('name')} "
                f"AS SELECT * FROM {m_clone.group('src')}"
            )
        # Session catalog has no REPLACE TABLE (v2-only) -> drop + create.
        m = _CREATE_OR_REPLACE.match(out)
        if m:
            create = _CREATE_OR_REPLACE.sub(
                lambda mm: f"CREATE TABLE {mm.group('name')}", out, count=1
            )
            return [f"DROP TABLE IF EXISTS {m.group('name')}", create]
        return [out]

    def _rewrite_time_travel(self, text: str, ctx: RunContext) -> str:
        """Replace every unquoted ``<name> AT|BEFORE(key => val)`` clause
        with a snapshot temp view over the registered VersionedTable (see
        :func:`_resolve_time_travel`). Text with no resolvable clause — an
        identifier named AT, a clause whose operand is not ``KEY => v`` —
        passes through untouched for Spark's parser to judge."""
        while True:
            code = unquoted_positions(text)
            hit = None
            for cand in _TT_HEAD.finditer(text):
                head = cand.start()  # a quoted name opens on a non-code quote
                if cand.start("kind") not in code or (
                    head not in code and text[head] not in '`"'
                ):
                    continue
                close = match_close(text, cand.end() - 1)
                if close is None:
                    continue
                inner = _TT_INNER.match(text[cand.end() : close - 1])
                if inner is None:
                    continue
                hit = (cand, close, inner)
                break
            if hit is None:
                return text
            cand, close, inner = hit
            view = _resolve_time_travel(
                ctx.spark,
                self.task_id,
                cand.group("name"),
                cand.group("kind").upper(),
                inner.group("key").upper(),
                inner.group("val"),
                ctx.clock(),
            )
            text = text[: cand.start()] + view + text[close:]

    @staticmethod
    def _is_table_ref_position(sql: str, pos: int) -> bool:
        """True iff an identifier starting at ``pos`` sits in a
        table-reference slot: right after FROM / any-JOIN / MERGE-style
        USING, or after a comma inside a FROM list (comma-join). ADVICE
        r8: a column, alias, or unrelated name that merely EQUALS a
        registered stream name must not be rewritten into the change-feed
        view — word-boundary matching alone changed query semantics."""
        toks = re.findall(r"[\w$.]+|[(),]", blank_quoted(sql[:pos]))
        clause_break = {
            "where", "group", "having", "order", "limit", "qualify",
            "window", "union", "intersect", "except", "select", "on",
            "set", "values", "when",
        }
        in_from = False
        stack: list[bool] = []
        last = None
        for t in toks:
            tl = t.lower()
            if t == "(":
                stack.append(in_from)
                in_from = False
            elif t == ")":
                in_from = stack.pop() if stack else False
            elif tl == "from":
                in_from = True
            elif tl in clause_break:
                in_from = False
            last = tl
        return last in ("from", "join", "using") or (
            last == "," and in_from
        )

    def _rewrite_streams(
        self, stmt: str, ctx: RunContext
    ) -> tuple[str, list[tuple[str, int]]]:
        """Resolve Snowflake STREAM references at EXECUTION time (offsets
        must see every earlier statement's commits, so this cannot run in
        the upfront translate pass): replace each registered stream name
        with a temp view over the table's change feed, backtick the
        ``METADATA$...`` columns (``$`` is not a bare-identifier character
        in Spark), and fold ``SYSTEM$STREAM_HAS_DATA('s')`` to its exact
        TRUE/FALSE. Returns the rewritten text plus the (stream, captured
        version) consumptions to advance if the statement turns out to be
        a successful DML (plans/streams.py has the semantics contract)."""
        from bfs_etl_sep2025_spark.plans import streams as _streams

        names = _streams.stream_names()
        if not names and "$" not in stmt:
            return stmt, []
        out = sub_unquoted(
            _METADATA_COL, lambda m: f"`{m.group(0)}`", stmt
        )
        out = sub_unquoted(
            _STREAM_HAS_DATA,
            lambda m: (
                "TRUE"
                if _streams.stream_has_data(
                    ctx.spark, m.group("name")
                )
                else "FALSE"
            ),
            out,
        )
        target = ident_key(self._write_target(out) or "")
        if target in names:
            raise ValueError(
                f"sql task {self.task_id!r}: stream {target!r} is a "
                "change feed and cannot be a write target"
            )
        consumed: list[tuple[str, int]] = []

        def resolve(name: str) -> str:
            view, ver = _streams.resolve_stream_view(ctx.spark, name)
            consumed.append((name, ver))
            return view

        return self._route_table_refs(out, names, resolve), consumed

    def _rewrite_masked(self, stmt: str, ctx: RunContext) -> str:
        """Route reads of masked tables through their policy views
        (plans/masking.py), at EXECUTION time so ``USE ROLE`` changes are
        observed. Same table-reference-position discipline as the stream
        rewrite; the WRITE target is never rewritten (ETL writes hit the
        base table raw — documented divergence in plans/masking.py)."""
        from bfs_etl_sep2025_spark.plans import masking as _masking

        tables = _masking.masked_tables()
        if not tables:
            return stmt
        target = ident_key(self._write_target(stmt) or "")
        return self._route_table_refs(
            stmt,
            [t for t in tables if t != target],
            lambda t: _masking.resolve_masked_view(ctx.spark, t),
        )

    def _route_table_refs(self, stmt: str, names, resolve) -> str:
        """Replace each reference to one of ``names`` that sits in
        TABLE-REFERENCE position (a column or alias sharing the name is left
        alone) with the view ``resolve(name)`` returns; ``resolve`` runs only
        for the names the statement references. Each dot-separated part may
        be spelled bare or quoted (``mdb.users``, ```mdb`.`users```,
        ``mdb."users"``); ```mdb.users``` is one identifier, another table."""
        code = unquoted_positions(stmt)
        for name in names:
            parts = [
                rf"(?:`{p}`|\"{p}\"|{p}\b)"
                for p in map(re.escape, name.split("."))
            ]
            pat = re.compile(r"(?i)(?<![\w.`\"])" + r"\.".join(parts))
            hits = {
                m.start()
                for m in pat.finditer(stmt)
                # a quoted name opens on a non-code quote after code
                if (m.start() in code or m.start() - 1 in code)
                and self._is_table_ref_position(stmt, m.start())
            }
            if hits:
                view = resolve(name)
                stmt = pat.sub(
                    lambda m: view if m.start() in hits else m.group(0), stmt
                )
                code = unquoted_positions(stmt)
        return stmt

    def _bind(self, stmt: str) -> str:
        def sub(m: re.Match[str]) -> str:
            name = m.group(1)
            if name not in self.parameters:
                raise KeyError(
                    f"sql task {self.task_id!r}: unbound parameter {name!r}"
                )
            return sql_literal(self.parameters[name])

        return _PYFORMAT.sub(sub, stmt)

    def statements(self, ctx: RunContext) -> list[str]:
        raw = self.sql if isinstance(self.sql, (list, tuple)) else [self.sql]
        loaded: list[str] = []
        for item in raw:
            if isinstance(item, str) and item.strip().endswith(".sql"):
                path = Path(item.strip())
                if not path.is_absolute() and self.sql_dir:
                    path = self.sql_dir / path
                item = path.read_text()
            loaded.append(item)
        rendered = [ctx.render(s) for s in loaded]
        bound = [self._bind(s) for s in rendered]
        split: list[str] = []
        for s in bound:
            split.extend(split_statements(s))
        out: list[str] = []
        for s in split:
            out.extend(self._translate(s, ctx))
        return out

    def _write_target(self, stmt: str) -> str | None:
        m = _WRITE_TARGET.match(stmt)
        if not m:
            return None
        name = m.group("name").strip('`"')
        if "." not in name and self.schema:
            name = f"{self.schema}.{name}"
        return name

    def execute(self, ctx: RunContext) -> None:
        from bfs_etl_sep2025_spark.plans.dml import (
            is_update_or_delete,
            run_update_or_delete,
        )
        from bfs_etl_sep2025_spark.plans.locks import table_write_lock
        from bfs_etl_sep2025_spark.plans.merge import is_merge, run_merge

        spark = ctx.spark
        if self.schema:
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.schema}")
            spark.catalog.setCurrentDatabase(self.schema)
        from bfs_etl_sep2025_spark.plans import masking, snowtasks, streams

        for stmt in self.statements(ctx):
            self.executed.append(stmt)
            # STREAM, TASK and policy DDL and USE ROLE run at EXECUTION time,
            # so offsets and task runs observe earlier statements' commits
            if any(
                mod.handle_statement(spark, stmt, self.task_id)
                for mod in (streams, snowtasks, masking)
            ):
                continue
            stmt, consumed = self._rewrite_streams(stmt, ctx)
            stmt = self._rewrite_masked(stmt, ctx)
            target = self._write_target(stmt)
            if target is None:
                spark.sql(stmt)
            else:
                # Spark's file commit protocol cannot take two concurrent
                # writers on one table (shared _temporary dir) -> serialize
                # per table; cross-table parallelism is unaffected.
                with table_write_lock(target):
                    if is_merge(stmt):
                        # plain-parquet catalog has no native MERGE INTO;
                        # decompose to one join, written as one new
                        # snapshot the table flips onto (plans/merge.py)
                        run_merge(spark, stmt)
                    elif is_update_or_delete(stmt):
                        # ditto UPDATE/DELETE: snapshot rewrite (plans/dml.py)
                        run_update_or_delete(spark, stmt)
                    else:
                        spark.sql(stmt)
                # a stream consumed inside a SUCCESSFUL DML advances its
                # offset to the version captured when the statement read it
                # (Snowflake's consume-on-commit); a plain SELECT only peeks
                for sname, ver in consumed:
                    streams.advance_stream(sname, ver)
