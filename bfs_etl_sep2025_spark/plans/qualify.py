"""Snowflake ``QUALIFY`` -> Spark SQL window+filter rewrite.

Snowflake lets a query filter on window functions in-line::

    SELECT c1, c2 FROM t QUALIFY row_number() OVER (PARTITION BY c1
                                                    ORDER BY c2) = 1

Spark SQL (4.x session catalog) has no QUALIFY clause, but the semantics —
evaluate the window predicate over the post-GROUP-BY/HAVING result, keep
rows where it's true — compose from what it does have::

    SELECT * EXCEPT (__qualify__) FROM (
      SELECT __q.*, (<pred>) AS __qualify__ FROM ( <head> ) AS __q
    ) WHERE __qualify__  <order-by/limit tail>

The window expressions compute over exactly the head's rows (same frame
Snowflake gives them), the boolean lands in a helper column, the filter
drops rows, ``* EXCEPT`` (Spark 3.4+) drops the helper from the schema.

Reference surface: the reference contracts for arbitrary Snowflake SQL
through ``SnowflakeOperator`` (``/root/reference/dags/dev_db_test.py:41-70``),
so Snowflake-dialect spellings reachable through that chokepoint belong to
the engine's dialect shim (see ``plans/tasks.py`` for TRANSIENT/sysdate/
datetime).

Scope: the QUALIFY must be top-level (not inside a subquery — Spark planning
inside nested scopes would need a real parser); the predicate may reference
select-list aliases or contain inline window calls, the common Snowflake
shapes. Keywords are found with the dialect layer's one scanner
(``plans/sqlsplit.py``), so a QUALIFY, SELECT or ORDER inside a literal, a
comment or parentheses is not a clause boundary. Two
documented restrictions (ADVICE r3): ``SELECT DISTINCT ... QUALIFY`` is
REJECTED with ValueError — Snowflake evaluates QUALIFY before DISTINCT, but
the wrap would run DISTINCT first and can keep different rows; and an ORDER
BY tail after QUALIFY may only reference columns in the select list (the
wrap hides the head's other columns from the outer sort).
"""

from __future__ import annotations

import re

from bfs_etl_sep2025_spark.plans.sqlsplit import keyword_positions

_HELPER = "__qualify__"

#: keywords that can follow the QUALIFY predicate at top level
_TAIL_RE = re.compile(r"(?i)(ORDER|LIMIT|OFFSET)\b")
_QUALIFY_RE = re.compile(r"(?i)QUALIFY\b")
_SELECT_RE = re.compile(r"(?i)SELECT\b")


def rewrite_qualify(stmt: str) -> str:
    """Return ``stmt`` unchanged if it has no top-level QUALIFY; otherwise
    the window+filter rewrite with an identical output schema. A statement
    prefix ahead of the query block (CTAS ``CREATE TABLE ... AS``,
    ``INSERT INTO ...``) is preserved verbatim — only the SELECT body is
    wrapped."""
    q_at = next(keyword_positions(_QUALIFY_RE, stmt), None)
    if q_at is None:
        return stmt
    sel_at = next(keyword_positions(_SELECT_RE, stmt), None)
    if sel_at is None or sel_at >= q_at:
        return stmt
    prefix = stmt[:sel_at]
    stmt = stmt[sel_at:]
    q_at -= sel_at
    head = stmt[:q_at].rstrip()
    if re.match(r"(?is)^SELECT\s+DISTINCT\b", head):
        raise ValueError(
            "QUALIFY with SELECT DISTINCT is unsupported: Snowflake runs "
            "QUALIFY before DISTINCT; the window+filter rewrite would "
            "invert that order. Deduplicate in a subquery instead."
        )
    rest = stmt[q_at + len("QUALIFY") :]
    # find where the predicate ends (top-level ORDER BY / LIMIT / OFFSET)
    tail_at = next(keyword_positions(_TAIL_RE, rest), None)
    pred = (rest[:tail_at] if tail_at is not None else rest).strip()
    tail = rest[tail_at:].strip() if tail_at is not None else ""
    out = (
        f"SELECT * EXCEPT ({_HELPER}) FROM ("
        f"SELECT __q.*, ({pred}) AS {_HELPER} FROM ({head}) AS __q"
        f") WHERE {_HELPER}"
    )
    if tail:
        out = f"{out} {tail}"
    return prefix + out
