"""Snowflake TASK shim: CREATE TASK / ALTER TASK / EXECUTE TASK mapped
onto the engine's Pipeline + SqlTask executor.

Reference parity: the reference IS an orchestrator (5 Airflow DAGs);
Snowflake's in-warehouse twin of those DAGs is the TASK object, reachable
through the arbitrary-SQL chokepoint (``dags/dev_db_test.py:41-70``). A
migrating user's canonical incremental pipeline is STREAM + TASK::

    CREATE STREAM s ON TABLE src;
    CREATE TASK load_t
      SCHEDULE = '60 MINUTE'
      WHEN SYSTEM$STREAM_HAS_DATA('s')
      AS INSERT INTO staged SELECT * FROM s;
    CREATE TASK after_t AFTER load_t AS <sql>;
    ALTER TASK after_t RESUME;  ALTER TASK load_t RESUME;
    EXECUTE TASK load_t;

Mapping (the well-defined subset):

- ``CREATE [OR REPLACE] TASK <name> [SCHEDULE = '<n> MINUTE' |
  'USING CRON <5 fields> <tz>'] [AFTER <parent>[, ...]] [WHEN <cond>]
  AS <one statement>`` registers a definition. Tasks are created
  SUSPENDED, like Snowflake.
- ``ALTER TASK <name> RESUME | SUSPEND`` flips the state; EXECUTE/run
  skips suspended tasks (and their subtrees never fire via AFTER edges
  from a skipped root — Snowflake's behavior for suspended children is
  to skip just the child; we match that: each task's own state gates it).
- ``EXECUTE TASK <name>`` runs the graph rooted there once, in AFTER
  dependency order, through the REAL SqlTask executor — so the full
  dialect shim (MERGE, QUALIFY, time travel, streams) applies to task
  bodies, and a WHEN gate is evaluated as one-row SQL after stream
  folding (``SYSTEM$STREAM_HAS_DATA`` resolves exactly). A false WHEN
  skips the task body but NOT its children's evaluation — children run
  on their own WHEN, matching Snowflake's "condition is per-task".
- :func:`task_pipeline` converts a root's graph into an engine
  ``Pipeline`` with the root's schedule (cron or N-minute), so the
  existing scheduler/catchup machinery (plans/cron.py) drives it exactly
  like the reference's Airflow schedule would. Its tasks are the ones
  EXECUTE TASK runs, gated on RESUME and WHEN the same way, except that a
  scheduled run fires nothing while the root is suspended.

Scale notes: the shim is pure orchestration — all data movement happens
inside SqlTask statements, which inherit every executor discipline
(per-table write locks, partition-pruned MERGE, stream file-diff reads).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import date, datetime

from pyspark.sql import SparkSession

from bfs_etl_sep2025_spark.plans.pipeline import Pipeline
from bfs_etl_sep2025_spark.plans.sqlsplit import (
    finditer_unquoted,
    ident_key,
    keyword_positions,
)
from bfs_etl_sep2025_spark.plans.tasks import SqlTask

_CREATE_TASK_HEAD = re.compile(
    r"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TASK\s+(?P<name>[\w.`\"]+)\s+"
    r"(?P<rest>.+)$"
)
_AS_KW = re.compile(r"(?i)AS\b")
_ALTER_TASK = re.compile(
    r"(?is)^\s*ALTER\s+TASK\s+(?:IF\s+EXISTS\s+)?(?P<name>[\w.`\"]+)\s+"
    r"(?P<verb>RESUME|SUSPEND)\s*$"
)
_EXECUTE_TASK = re.compile(
    r"(?is)^\s*EXECUTE\s+TASK\s+(?P<name>[\w.`\"]+)\s*$"
)
_SCHEDULE = re.compile(r"(?is)\bSCHEDULE\s*=\s*'(?P<sched>[^']+)'")
_AFTER = re.compile(r"(?is)\bAFTER\s+(?P<parents>[\w.`\"]+(?:\s*,\s*[\w.`\"]+)*)")
_WHEN_KW = re.compile(r"(?i)\bWHEN\b")
_N_MINUTE = re.compile(r"(?i)^\s*(?P<n>\d+)\s+MINUTE\s*$")
_USING_CRON = re.compile(r"(?i)^\s*USING\s+CRON\s+(?P<expr>\S+(?:\s+\S+){4})")


@dataclass
class TaskDef:
    name: str
    body: str
    schedule: str | None = None
    after: tuple[str, ...] = ()
    when: str | None = None
    resumed: bool = False
    #: run log (logical dates of executions; '' marks a WHEN-skip)
    runs: list[str] = field(default_factory=list)


_TASKS: dict[str, TaskDef] = {}


def clear_tasks() -> None:
    """Test hook: forget every registered task."""
    _TASKS.clear()


def task_def(name: str) -> TaskDef:
    return _TASKS[ident_key(name)]


def create_task(stmt: str, task_id: str) -> bool:
    """Handle CREATE TASK; returns True when the statement was one."""
    m = _CREATE_TASK_HEAD.match(stmt)
    if not m:
        return False
    # split clauses from the body at the first TOP-LEVEL unquoted AS — a
    # CAST(... AS ...) inside a parenthesized WHEN condition is body-safe
    rest = m.group("rest")
    split_at = next(keyword_positions(_AS_KW, rest), None)
    if split_at is None:
        raise ValueError(
            f"sql task {task_id!r}: CREATE TASK without an AS <statement> "
            "body"
        )
    head = rest[:split_at]
    body_text = rest[split_at + len("AS") :]

    # Clause extraction must respect string literals (ADVICE r8): a WHEN
    # condition containing a quoted 'AFTER x' or 'SCHEDULE =' substring
    # must not be mis-split. WHEN is carved out FIRST, its end bounded by
    # the next UNQUOTED SCHEDULE/AFTER clause head.
    when = None
    mw = next(finditer_unquoted(_WHEN_KW, head), None)
    if mw:
        end = min(
            (
                mm.start()
                for pat in (_SCHEDULE, _AFTER)
                for mm in finditer_unquoted(pat, head)
                if mm.start() > mw.end()
            ),
            default=len(head),
        )
        when = head[mw.end() : end].strip()
        head = head[: mw.start()] + head[end:]
    sched = None
    ms = next(finditer_unquoted(_SCHEDULE, head), None)
    if ms:
        raw = ms.group("sched")
        if not (_N_MINUTE.match(raw) or _USING_CRON.match(raw)):
            raise ValueError(
                f"sql task {task_id!r}: TASK SCHEDULE {raw!r} unsupported "
                "by the shim ('<n> MINUTE' and 'USING CRON <expr>' "
                "translate)"
            )
        sched = raw
        head = head[: ms.start()] + head[ms.end() :]
    after: tuple[str, ...] = ()
    ma = next(finditer_unquoted(_AFTER, head), None)
    if ma:
        after = tuple(
            ident_key(p.strip()) for p in ma.group("parents").split(",")
        )
        head = head[: ma.start()] + head[ma.end() :]
    leftover = head.strip()
    if leftover:
        raise ValueError(
            f"sql task {task_id!r}: CREATE TASK clause(s) {leftover!r} "
            "unsupported by the shim (SCHEDULE / AFTER / WHEN translate; "
            "WAREHOUSE and session parameters have no engine equivalent)"
        )
    name = ident_key(m.group("name"))
    for p in after:
        if p not in _TASKS:
            raise ValueError(
                f"sql task {task_id!r}: TASK {name!r} is AFTER {p!r}, "
                "which is not a registered task"
            )
    _TASKS[name] = TaskDef(
        name=name,
        body=body_text.strip().rstrip(";"),
        schedule=sched,
        after=after,
        when=when,
    )
    return True


def alter_task(stmt: str) -> bool:
    m = _ALTER_TASK.match(stmt)
    if not m:
        return False
    name = ident_key(m.group("name"))
    if name not in _TASKS:
        raise ValueError(f"ALTER TASK: no task {name!r}")
    _TASKS[name].resumed = m.group("verb").upper() == "RESUME"
    return True


def _subtree(root: str) -> set[str]:
    """The root plus every task reachable from it over AFTER edges."""
    members = {root}
    changed = True
    while changed:
        changed = False
        for t in _TASKS.values():
            if t.name not in members and any(
                p in members for p in t.after
            ):
                members.add(t.name)
                changed = True
    return members


class _TaskObject(SqlTask):
    """One TASK definition as an engine task. Its body runs only when the
    task is resumed (or ``forced``: EXECUTE TASK's root), the ``root`` of a
    scheduled run is resumed, and its WHEN holds, evaluated as one-row SQL
    after the stream rewrite (so ``SYSTEM$STREAM_HAS_DATA`` folds to its
    exact literal). Each WHEN evaluation is logged in ``tdef.runs``."""

    def __init__(
        self,
        tdef: TaskDef,
        pipeline: Pipeline,
        forced: bool,
        root: TaskDef | None,
    ):
        super().__init__(tdef.name, sql=tdef.body, pipeline=pipeline)
        self.tdef, self.forced, self.root, self.ran = tdef, forced, root, False

    def execute(self, ctx) -> None:
        t, self.ran = self.tdef, False
        if not (t.resumed or self.forced) or (
            self.root is not None and not self.root.resumed
        ):
            return
        if t.when is not None:
            gate, _ = self._rewrite_streams(f"SELECT ({t.when})", ctx)
            if not ctx.spark.sql(gate).collect()[0][0]:
                t.runs.append("")  # evaluated, condition false -> skipped
                return
        super().execute(ctx)
        t.runs.append(ctx.logical_date.isoformat())
        self.ran = True


def _task_graph(root: str, forced: bool, **pipeline_kw) -> Pipeline:
    """The graph rooted at ``root`` as a Pipeline of :class:`_TaskObject`
    wired along AFTER edges. ``forced`` (EXECUTE TASK) runs the root even if
    suspended; otherwise (a scheduled run) nothing runs while it is."""
    p = Pipeline(f"task_{root}", **pipeline_kw)
    gate = None if forced else _TASKS[root]
    objs = {
        n: _TaskObject(_TASKS[n], p, forced and n == root, gate)
        for n in _subtree(root)
    }
    for n, obj in objs.items():
        for parent in _TASKS[n].after:
            if parent in objs:
                objs[parent] >> obj
    return p


def execute_task(
    spark: SparkSession, name: str, run_date: datetime | date | None = None
) -> list[str]:
    """EXECUTE TASK semantics: run the graph rooted at ``name`` once.
    Returns the task names whose bodies actually ran (resumed + WHEN
    true), in execution order. The root runs regardless of its own
    RESUME state (Snowflake's EXECUTE TASK fires a suspended root too);
    children require RESUME."""
    name = ident_key(name)
    if name not in _TASKS:
        raise ValueError(f"EXECUTE TASK: no task {name!r}")
    p = _task_graph(name, forced=True)
    p.run(spark, run_date=run_date)
    return [t.task_id for lvl in p.topological_order() for t in lvl if t.ran]


def handle_statement(
    spark: SparkSession, stmt: str, task_id: str
) -> bool:
    """Dispatch TASK DDL/EXECUTE from the SqlTask statement stream;
    returns True when the statement was task-object SQL."""
    if create_task(stmt, task_id) or alter_task(stmt):
        return True
    m = _EXECUTE_TASK.match(stmt)
    if m:
        execute_task(spark, m.group("name"))
        return True
    return False


def task_pipeline(root: str, start_date: date, clock=None) -> Pipeline:
    """Convert a task graph into an engine Pipeline scheduled like the
    root: '<n> MINUTE' -> cron '*/n * * * *' (n < 60) and 'USING CRON
    <expr>' -> the expr verbatim — plans/cron.py then drives catchup and
    next-run exactly as it does for the reference's Airflow schedules.
    A scheduled run fires nothing while the root is suspended; otherwise
    each task runs when it is resumed and its WHEN holds."""
    t = _TASKS[ident_key(root)]
    if t.schedule is None:
        raise ValueError(f"task {root!r} has no SCHEDULE to build from")
    mn = _N_MINUTE.match(t.schedule)
    if mn:
        n = int(mn.group("n"))
        if not 1 <= n < 60:
            raise ValueError(
                f"task {root!r}: '<n> MINUTE' outside 1..59 needs a CRON "
                "schedule"
            )
        schedule = f"*/{n} * * * *"
    else:
        schedule = _USING_CRON.match(t.schedule).group("expr")
    return _task_graph(
        ident_key(root),
        forced=False,
        schedule=schedule,
        start_date=start_date,
        clock=clock,
    )
