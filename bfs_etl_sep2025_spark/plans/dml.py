"""Executable ``UPDATE`` / ``DELETE`` for the plain-parquet session catalog.

Same gap and same cure as ``plans/merge.py``: Spark only runs UPDATE/DELETE
against v2 transactional providers (Delta/Iceberg, jars absent), but both
statements are snapshot transforms —

- ``DELETE FROM t WHERE p``       -> keep rows where p is not satisfied
- ``UPDATE t SET c = e WHERE p``  -> CASE per assigned column

written once as the table's next snapshot by ``merge.swap_snapshot`` (a
fresh directory plus a ``SET LOCATION`` flip for managed tables, an
in-place file swap for external ones; a failed write leaves the table
untouched). SQL three-valued logic is preserved: rows where the predicate
is NULL are NOT deleted/updated (``coalesce(p, false)``), exactly as
warehouse DML behaves.

Reference surface: Snowflake-side DML reachable through the arbitrary-SQL
pass-through (``/root/reference/dags/dev_db_test.py:41-70``).

Scale notes: each statement is one filtered/projected scan + rewrite of the
table — the snapshot-isolation price of no transactional format; on a
Delta/Iceberg catalog the identical statements execute natively with
file-level pruning instead of a full rewrite.
"""

from __future__ import annotations

import re

from bfs_etl_sep2025_spark.plans.merge import parse_sets, swap_snapshot, table_meta
from bfs_etl_sep2025_spark.plans.sqlsplit import keyword_positions

_DELETE_HEAD = re.compile(r"(?is)^\s*DELETE\s+FROM\s+(?P<name>[\w.`\"]+)\s*")
_UPDATE_HEAD = re.compile(r"(?is)^\s*UPDATE\s+(?P<name>[\w.`\"]+)\s+SET\s")
_WHERE = re.compile(r"(?i)WHERE\b")


def is_update_or_delete(stmt: str) -> bool:
    return bool(_DELETE_HEAD.match(stmt) or _UPDATE_HEAD.match(stmt))


def _split_where(text: str) -> tuple[str, str | None]:
    """Split ``text`` at its first *top-level* WHERE (quote-, comment-, and
    paren-aware), so a WHERE inside a subquery or a string literal never
    becomes the statement boundary — unlike a lazy ``.+?`` regex, which
    splits at the first textual ' where ' regardless of nesting."""
    i = next(keyword_positions(_WHERE, text), None)
    if i is None:
        return text.strip(), None
    return text[:i].strip(), text[i + len("WHERE") :].strip()


def run_update_or_delete(spark, stmt: str) -> None:
    """Parse + execute one UPDATE or DELETE against the session catalog."""
    if m := _DELETE_HEAD.match(stmt):
        table = m.group("name").strip('`"')
        rest, pred = _split_where(stmt[m.end() :])
        if rest:
            raise ValueError(f"unsupported DELETE tail: {rest[:60]!r}")
        meta = table_meta(spark, table)
        if pred is None:
            # unconditional DELETE == empty the table
            select = f"SELECT * FROM {table} WHERE false"
        else:
            select = (
                f"SELECT * FROM {table} WHERE NOT coalesce(({pred}), false)"
            )
        swap_snapshot(spark, meta, select)
        return
    m = _UPDATE_HEAD.match(stmt)
    if not m:
        raise ValueError(f"unsupported DML statement: {stmt[:60]!r}")
    table = m.group("name").strip('`"')
    meta = table_meta(spark, table)
    sets_sql, pred = _split_where(stmt[m.end() :])
    sets = parse_sets(sets_sql)
    cond = f"coalesce(({pred}), false)" if pred is not None else "true"
    cols = ", ".join(
        f"CASE WHEN {cond} THEN ({expr}) ELSE {c} END AS {c}"
        if (expr := sets.get(c))
        else c
        for c, _ in meta.fields
    )
    swap_snapshot(spark, meta, f"SELECT {cols} FROM {table}")
