"""Snowflake dynamic-data-masking shim (column masking policies).

Reference parity: masking policies are reachable through the reference's
arbitrary-SQL chokepoint (``dags/dev_db_test.py:41-70``) — the standard
governance pattern a migrating Snowflake shop runs is

    CREATE MASKING POLICY email_mask AS (val STRING) RETURNS STRING ->
      CASE WHEN CURRENT_ROLE() IN ('ANALYST') THEN val
           ELSE '***MASKED***' END;
    ALTER TABLE users MODIFY COLUMN email SET MASKING POLICY email_mask;
    USE ROLE reporting;
    SELECT email FROM users;        -- masked for this role

Semantics mapped onto Spark:

- ``CREATE [OR REPLACE] MASKING POLICY <p> AS (<arg> <type>) RETURNS
  <type> -> <body>`` registers the body as a SQL expression template
  (the body text has already been through the task's dialect translate
  pass, so IFF/NVL/... spellings work inside policies like anywhere
  else).
- ``ALTER TABLE <t> MODIFY|ALTER COLUMN <c> SET MASKING POLICY <p>``
  binds the policy; ``... UNSET MASKING POLICY`` unbinds.
- ``USE ROLE <r>`` sets the session role; ``CURRENT_ROLE()`` inside a
  policy body folds to that role as a literal AT READ TIME (the same
  execution-time-fold mechanics as ``SYSTEM$STREAM_HAS_DATA`` — the
  masked view is rebuilt per read, so a role change between statements
  is always observed).
- Reads of a masked table are rewritten (table-reference positions only,
  same machinery as stream references) to ONE live temp view per table
  whose bound columns run their policy bodies; unbound columns pass
  through. Row count and schema are unchanged — only values mask.
- ``CREATE ROW ACCESS POLICY <p> AS (<args>) RETURNS BOOLEAN -> <body>``
  plus ``ALTER TABLE <t> ADD ROW ACCESS POLICY <p> ON (<cols>)`` — row-
  level security, Snowflake's one-per-table rule enforced. The policy
  body becomes the view's WHERE over the RAW stored columns (evaluated
  before column masks, as in Snowflake), so Catalyst pushes it down to
  the scan like any user predicate.

Documented divergences:

- WRITE targets are never rewritten: an INSERT/MERGE into a masked table
  hits the base table raw (Snowflake's ETL-owner pattern). Consequently
  a statement that both WRITES a masked table and READS it sees its own
  reads unmasked — spell such maintenance as two statements under an
  authorized role if masking matters there.
- There is no privilege model: ``USE ROLE`` is honored verbatim. The
  shim enforces the POLICY EXPRESSION, not authentication.

Scale notes: the masked view is a projection over the base table —
Catalyst inlines it, so filters/pruning still push down to the scan and
the policy CASE runs codegen'd per row; zero extra shuffles.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from bfs_etl_sep2025_spark.plans.sqlsplit import (
    match_close,
    split_top_level,
    sub_unquoted,
)

#: policy name (lowercased) -> {"arg": str, "body": str}
_POLICIES: dict[str, dict] = {}
#: table name (lowercased) -> {column (lowercased): policy name}
_BINDINGS: dict[str, dict[str, str]] = {}
#: row-access policy name (lowercased) -> {"args": [str], "body": str}
_ROW_POLICIES: dict[str, dict] = {}
#: table name (lowercased) -> (policy name, [bound column names])
_ROW_BINDINGS: dict[str, tuple[str, list[str]]] = {}
#: session role, set by USE ROLE (Snowflake default role spelling)
_ROLE: str = "PUBLIC"
#: one live masked view per table (previous read's view is replaced)
_LIVE_VIEWS: dict[str, str] = {}

#: policy head up to ``AS (``; the arguments run to their balanced close, so
#: types such as ``DECIMAL(10,2)`` parse, and ``_POLICY_TAIL`` reads the rest
CREATE_POLICY = re.compile(
    r"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?"
    r"(?P<kind>MASKING|ROW\s+ACCESS)\s+POLICY\s+(?P<name>[\w.`\"]+)\s+AS\s*\("
)
_POLICY_TAIL = re.compile(
    r"(?is)\s*RETURNS\s+(?P<rtype>\w+)(?:\s*\([\d\s,]*\))?\s*->\s*"
    r"(?P<body>.+?)\s*$"
)
DROP_ROW_POLICY = re.compile(
    r"(?is)^\s*DROP\s+ROW\s+ACCESS\s+POLICY\s+(?:IF\s+EXISTS\s+)?"
    r"(?P<name>[\w.`\"]+)\s*$"
)
ADD_ROW_POLICY = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<table>[\w.`\"]+)\s+"
    r"ADD\s+ROW\s+ACCESS\s+POLICY\s+(?P<policy>[\w.`\"]+)\s+"
    r"ON\s*\((?P<cols>[^)]+)\)\s*$"
)
DETACH_ROW_POLICY = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<table>[\w.`\"]+)\s+"
    r"DROP\s+ROW\s+ACCESS\s+POLICY\s+(?P<policy>[\w.`\"]+)\s*$"
)
DROP_POLICY = re.compile(
    r"(?is)^\s*DROP\s+MASKING\s+POLICY\s+(?:IF\s+EXISTS\s+)?"
    r"(?P<name>[\w.`\"]+)\s*$"
)
SET_POLICY = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<table>[\w.`\"]+)\s+"
    r"(?:MODIFY|ALTER)\s+COLUMN\s+(?P<col>[\w`\"]+)\s+"
    r"SET\s+MASKING\s+POLICY\s+(?P<policy>[\w.`\"]+)\s*$"
)
UNSET_POLICY = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<table>[\w.`\"]+)\s+"
    r"(?:MODIFY|ALTER)\s+COLUMN\s+(?P<col>[\w`\"]+)\s+"
    r"UNSET\s+MASKING\s+POLICY\s*$"
)
USE_ROLE = re.compile(r"(?is)^\s*USE\s+ROLE\s+(?P<role>[\w`\"]+)\s*$")
_CURRENT_ROLE = re.compile(r"(?i)\bCURRENT_ROLE\s*\(\s*\)")


def _norm(name: str) -> str:
    return name.strip('`"').lower()


def _parse_create_policy(stmt: str):
    """``(kind, name, arg names, body)`` of a CREATE MASKING POLICY with
    one argument or a CREATE ROW ACCESS POLICY returning BOOLEAN; None for
    any other statement."""
    m = CREATE_POLICY.match(stmt)
    close = m and match_close(stmt, m.end() - 1)
    tail = close and _POLICY_TAIL.match(stmt, close)
    if not tail:
        return None
    kind = m.group("kind").split()[0].upper()
    args = [a.split()[0] for a in split_top_level(stmt[m.end() : close - 1])]
    if kind == "MASKING" and len(args) != 1:
        return None
    if kind == "ROW" and tail.group("rtype").upper() != "BOOLEAN":
        return None
    body = tail.group("body").rstrip("; \n")
    return kind, _norm(m.group("name")), args, body


def handle_statement(spark: SparkSession, stmt: str, task_id: str) -> bool:
    """Consume masking DDL / USE ROLE. True = statement fully handled."""
    global _ROLE
    policy = _parse_create_policy(stmt)
    if policy is not None:
        kind, name, args, body = policy
        if kind == "MASKING":
            _POLICIES[name] = {"arg": args[0], "body": body}
        else:
            _ROW_POLICIES[name] = {"args": args, "body": body}
        return True
    m = DROP_POLICY.match(stmt)
    if m:
        name = _norm(m.group("name"))
        bound = [
            (t, c)
            for t, cols in _BINDINGS.items()
            for c, p in cols.items()
            if p == name
        ]
        if bound:
            raise ValueError(
                f"sql task {task_id!r}: masking policy {name!r} is still "
                f"bound to {bound} — UNSET it first (Snowflake refuses too)"
            )
        _POLICIES.pop(name, None)
        return True
    m = SET_POLICY.match(stmt)
    if m:
        pol = _norm(m.group("policy"))
        if pol not in _POLICIES:
            raise ValueError(
                f"sql task {task_id!r}: unknown masking policy {pol!r}"
            )
        _BINDINGS.setdefault(_norm(m.group("table")), {})[
            _norm(m.group("col"))
        ] = pol
        return True
    m = UNSET_POLICY.match(stmt)
    if m:
        t = _norm(m.group("table"))
        _BINDINGS.get(t, {}).pop(_norm(m.group("col")), None)
        if not _BINDINGS.get(t):
            _BINDINGS.pop(t, None)
        return True
    m = DROP_ROW_POLICY.match(stmt)
    if m:
        name = _norm(m.group("name"))
        bound = [t for t, (p, _) in _ROW_BINDINGS.items() if p == name]
        if bound:
            raise ValueError(
                f"sql task {task_id!r}: row access policy {name!r} is "
                f"still bound to {bound} — detach it first"
            )
        _ROW_POLICIES.pop(name, None)
        return True
    m = ADD_ROW_POLICY.match(stmt)
    if m:
        pol = _norm(m.group("policy"))
        if pol not in _ROW_POLICIES:
            raise ValueError(
                f"sql task {task_id!r}: unknown row access policy {pol!r}"
            )
        t = _norm(m.group("table"))
        if t in _ROW_BINDINGS:
            raise ValueError(
                f"sql task {task_id!r}: table {t!r} already has a row "
                "access policy (Snowflake allows one per table)"
            )
        cols = [c.strip().strip('`"') for c in m.group("cols").split(",")]
        if len(cols) != len(_ROW_POLICIES[pol]["args"]):
            raise ValueError(
                f"sql task {task_id!r}: row access policy {pol!r} takes "
                f"{len(_ROW_POLICIES[pol]['args'])} args, got {len(cols)}"
            )
        _ROW_BINDINGS[t] = (pol, cols)
        return True
    m = DETACH_ROW_POLICY.match(stmt)
    if m:
        t = _norm(m.group("table"))
        if _ROW_BINDINGS.get(t, (None,))[0] == _norm(m.group("policy")):
            _ROW_BINDINGS.pop(t)
        return True
    m = USE_ROLE.match(stmt)
    if m:
        _ROLE = m.group("role").strip('`"').upper()
        return True
    return False


def masked_tables() -> list[str]:
    """Tables needing a read rewrite: column-masked OR row-filtered."""
    return list({**_BINDINGS, **dict.fromkeys(_ROW_BINDINGS)})


def current_role() -> str:
    return _ROLE


def clear_masking() -> None:
    global _ROLE
    _POLICIES.clear()
    _BINDINGS.clear()
    _ROW_POLICIES.clear()
    _ROW_BINDINGS.clear()
    _LIVE_VIEWS.clear()
    _ROLE = "PUBLIC"


def resolve_masked_view(spark: SparkSession, table: str) -> str:
    """Build (or rebuild) the policy temp view for ``table`` and return
    its name: column masks in the SELECT list, the row access policy (if
    any) as a WHERE clause — the filter sits directly over the scan, so
    Catalyst pushes it down like any user predicate. Rebuilt per read so
    a ``USE ROLE`` between statements is always observed; the previous
    view is replaced, never leaked."""
    cols = spark.table(table).columns
    bindings = _BINDINGS.get(_norm(table), {})
    items = []
    for c in cols:
        pol = bindings.get(c.lower())
        if pol is None:
            items.append(f"`{c}`")
            continue
        spec = _POLICIES[pol]
        # both substitutions are restricted to UNQUOTED positions (ADVICE
        # r10): a body like IFF(role(), v, 'masked v value') or a literal
        # containing the text current_role() must keep its literals intact
        body = sub_unquoted(_CURRENT_ROLE, f"'{_ROLE}'", spec["body"])
        body = sub_unquoted(
            re.compile(rf"(?i)\b{re.escape(spec['arg'])}\b"), f"`{c}`", body
        )
        items.append(f"({body}) AS `{c}`")
    where = ""
    row_bind = _ROW_BINDINGS.get(_norm(table))
    if row_bind is not None:
        pol, bound_cols = row_bind
        spec = _ROW_POLICIES[pol]
        body = sub_unquoted(_CURRENT_ROLE, f"'{_ROLE}'", spec["body"])
        for arg, c in zip(spec["args"], bound_cols):
            body = sub_unquoted(
                re.compile(rf"(?i)\b{re.escape(arg)}\b"), f"`{c}`", body
            )
        where = f" WHERE ({body})"
    view = f"__masked_{_norm(table).replace('.', '_')}_v"
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {view} AS "
        f"SELECT {', '.join(items)} FROM {table}{where}"
    )
    _LIVE_VIEWS[_norm(table)] = view
    return view
