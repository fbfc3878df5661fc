"""Snowflake dynamic-data-masking shim (masking and row access policies).

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
- Both kinds share one store of ``(kind, args, body)``, one binding map
  (``(table, column)`` for a mask, ``(table, None)`` for a row filter),
  one DROP handler and one renderer, :func:`_apply`.

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
    ident_key,
    match_close,
    split_top_level,
    sub_unquoted,
)

#: policy name -> (kind: "masking" | "row access", argument names, body)
_POLICIES: dict[str, tuple[str, list[str], str]] = {}
#: (table, column) -> (masking policy, [column]) and (table, None) -> (row
#: access policy, [bound columns]); table, column and policy names are
#: :func:`ident_key` keys
_BINDINGS: dict[tuple[str, str | None], tuple[str, list[str]]] = {}
#: session role, set by USE ROLE (Snowflake default role spelling)
_ROLE: str = "PUBLIC"

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
DROP_POLICY = re.compile(
    r"(?is)^\s*DROP\s+(?P<kind>MASKING|ROW\s+ACCESS)\s+POLICY\s+"
    r"(?:IF\s+EXISTS\s+)?(?P<name>[\w.`\"]+)\s*$"
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


def _kind(m: re.Match) -> str:
    return " ".join(m.group("kind").split()).lower()


def _parse_create_policy(stmt: str):
    """``(kind, name, arg names, body)`` of a CREATE MASKING POLICY with
    one argument or a CREATE ROW ACCESS POLICY returning BOOLEAN; None for
    any other statement."""
    m = CREATE_POLICY.match(stmt)
    close = m and match_close(stmt, m.end() - 1)
    tail = close and _POLICY_TAIL.match(stmt, close)
    if not tail:
        return None
    kind = _kind(m)
    args = [a.split()[0] for a in split_top_level(stmt[m.end() : close - 1])]
    if kind == "masking" and len(args) != 1:
        return None
    if kind == "row access" and tail.group("rtype").upper() != "BOOLEAN":
        return None
    body = tail.group("body").rstrip("; \n")
    return kind, ident_key(m.group("name")), args, body


def _require(kind: str, name: str, task_id: str) -> list[str]:
    """The argument names of the ``kind`` policy ``name``; raises unless
    that policy exists."""
    if _POLICIES.get(name, ("",))[0] != kind:
        raise ValueError(f"sql task {task_id!r}: unknown {kind} policy {name!r}")
    return _POLICIES[name][1]


def handle_statement(spark: SparkSession, stmt: str, task_id: str) -> bool:
    """Consume policy DDL / USE ROLE. True = statement fully handled."""
    global _ROLE
    policy = _parse_create_policy(stmt)
    if policy is not None:
        kind, name, args, body = policy
        _POLICIES[name] = (kind, args, body)
        return True
    if m := DROP_POLICY.match(stmt):
        kind, name = _kind(m), ident_key(m.group("name"))
        if _POLICIES.get(name, ("",))[0] == kind:
            bound = sorted({t for (t, _), (p, _) in _BINDINGS.items() if p == name})
            if bound:
                raise ValueError(
                    f"sql task {task_id!r}: {kind} policy {name!r} is still "
                    f"bound to {bound} — unbind it first (Snowflake refuses too)"
                )
            del _POLICIES[name]
        return True
    if m := SET_POLICY.match(stmt):
        pol = ident_key(m.group("policy"))
        _require("masking", pol, task_id)
        col = m.group("col").strip('`"')
        _BINDINGS[ident_key(m.group("table")), ident_key(col)] = (pol, [col])
        return True
    if m := UNSET_POLICY.match(stmt):
        t, col = ident_key(m.group("table")), ident_key(m.group("col"))
        _BINDINGS.pop((t, col), None)
        return True
    if m := ADD_ROW_POLICY.match(stmt):
        pol, t = ident_key(m.group("policy")), ident_key(m.group("table"))
        args = _require("row access", pol, task_id)
        if (t, None) in _BINDINGS:
            raise ValueError(
                f"sql task {task_id!r}: table {t!r} already has a row "
                "access policy (Snowflake allows one per table)"
            )
        cols = [c.strip().strip('`"') for c in m.group("cols").split(",")]
        if len(cols) != len(args):
            raise ValueError(
                f"sql task {task_id!r}: row access policy {pol!r} takes "
                f"{len(args)} args, got {len(cols)}"
            )
        _BINDINGS[t, None] = (pol, cols)
        return True
    if m := DETACH_ROW_POLICY.match(stmt):
        t = ident_key(m.group("table"))
        if _BINDINGS.get((t, None), ("",))[0] == ident_key(m.group("policy")):
            del _BINDINGS[t, None]
        return True
    if m := USE_ROLE.match(stmt):
        _ROLE = m.group("role").strip('`"').upper()
        return True
    return False


def masked_tables() -> list[str]:
    """Tables needing a read rewrite: column-masked OR row-filtered."""
    return list(dict.fromkeys(t for t, _ in _BINDINGS))


def current_role() -> str:
    return _ROLE


def clear_masking() -> None:
    global _ROLE
    _POLICIES.clear()
    _BINDINGS.clear()
    _ROLE = "PUBLIC"


def _apply(policy: str, cols: list[str]) -> str:
    """The body of ``policy`` with ``CURRENT_ROLE()`` folded to the session
    role and each argument bound to its column of ``cols``. Both
    substitutions skip literals (ADVICE r10): a body like ``IFF(role(), v,
    'masked v value')`` or a literal holding the text ``current_role()``
    keeps its literals intact."""
    _, args, body = _POLICIES[policy]
    body = sub_unquoted(_CURRENT_ROLE, f"'{_ROLE}'", body)
    for arg, c in zip(args, cols):
        arg_ref = re.compile(rf"(?i)\b{re.escape(arg)}\b")
        body = sub_unquoted(arg_ref, f"`{c}`", body)
    return f"({body})"


def resolve_masked_view(spark: SparkSession, table: str) -> str:
    """Build (or rebuild) the policy temp view for ``table`` and return
    its name: column masks in the SELECT list, the row access policy (if
    any) as a WHERE clause — the filter sits directly over the scan, so
    Catalyst pushes it down like any user predicate. Rebuilt per read so
    a ``USE ROLE`` between statements is always observed; the view name is
    fixed per table, so the previous read's view is replaced, never
    leaked."""
    key = ident_key(table)
    items = []
    for c in spark.table(table).columns:
        mask = _BINDINGS.get((key, c.lower()))
        items.append(f"{_apply(*mask)} AS `{c}`" if mask else f"`{c}`")
    row = _BINDINGS.get((key, None))
    where = f" WHERE {_apply(*row)}" if row else ""
    view = f"__masked_{key.replace('.', '_')}_v"
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {view} AS "
        f"SELECT {', '.join(items)} FROM {table}{where}"
    )
    return view
