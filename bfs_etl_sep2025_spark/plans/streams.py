"""Snowflake STREAM shim: change-tracking objects over VersionedTable CDC.

Reference parity: Snowflake streams are reachable through the reference's
arbitrary-SQL chokepoint (``dags/dev_db_test.py:41-70``) — the standard
incremental-consumption pattern a migrating warehouse user runs is

    CREATE STREAM s ON TABLE t;
    -- later, repeatedly:
    INSERT INTO staged SELECT * FROM s;   -- consumes: offset advances

This module maps that onto :class:`~bfs_etl_sep2025_spark.plans.versioned.
VersionedTable`'s change data feed (``changes()``), with Snowflake's
semantics where they are well-defined on a plain filesystem:

- ``CREATE STREAM <s> ON TABLE <t>`` captures the table's CURRENT commit
  version as the stream offset; the stream starts EMPTY (Snowflake
  default). ``SHOW_INITIAL_ROWS = TRUE`` starts the offset at 0 so the
  first consumption sees every existing row as an INSERT.
- Reading ``<s>`` yields one row per net row change in ``(offset,
  current]`` with Snowflake's metadata columns: ``METADATA$ACTION``
  ('INSERT'/'DELETE'), ``METADATA$ISUPDATE`` (always FALSE here — the
  manifest CDC surfaces an update as its delete+insert pair, i.e.
  Snowflake's append-only-style accounting; exact for inserts/deletes,
  the flag-only divergence is documented), ``METADATA$ROW_ID`` (opaque
  deterministic id: md5 of row content + commit version).
- ``APPEND_ONLY = TRUE`` filters to inserts (Snowflake's cheaper mode).
- The offset advances ONLY when a stream-reading statement also WRITES
  (insert/CTAS/MERGE/UPDATE/DELETE succeed) — a plain SELECT peeks
  without consuming, exactly like Snowflake outside a DML transaction.
  All statements of one task run read the SAME captured range
  (repeatable within the run); advancement happens per successful DML.
- ``SYSTEM$STREAM_HAS_DATA('s')`` is resolved at execution time to a
  TRUE/FALSE literal by probing the feed for one row (exact, not the
  version-counter heuristic — a net-zero commit reports no data).

Documented divergences (ADVICE r8):

- Each stream read materializes ONE temp view (the previous read's view
  is dropped — a long session no longer leaks a catalog entry per read).
  Consequently a longer-lived object defined OVER a stream read
  (``CREATE VIEW v AS SELECT * FROM s``) binds to that read's snapshot
  view and errors loudly once the stream is read again — Snowflake
  re-evaluates the stream per query of ``v``. Loud-on-stale is the
  chosen failure mode; re-derive such views from the stream directly.
- ``SYSTEM$STREAM_HAS_DATA`` folded inside a ``CREATE VIEW`` body bakes
  the peek-time TRUE/FALSE literal into the view definition, diverging
  from Snowflake's per-query re-evaluation (same execution-time-fold
  mechanics; gate tasks re-translate per run, so the supported
  WHEN-gated incremental pattern is unaffected).

Offsets are durable: each stream is a commit log
(``plans/commitlog.py``) at ``<table root>/_streams/<name>/`` whose head
entry is ``{offset, append_only}``. CREATE [OR REPLACE] and every advance
append an entry, and DROP removes the directory. A new session that has
run ``register_versioned_table`` finds the stream by name under the
table's root; a name found under two registered tables raises.

Scale notes: a stream read IS ``VersionedTable.changes`` — per commit it
scans only the data dirs that commit added/removed (file-level diff), so
consuming a stream on a 100 TB table costs the changed files, never the
table.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from bfs_etl_sep2025_spark.plans.commitlog import CommitLog, ConcurrentWriteError
from bfs_etl_sep2025_spark.plans.versioned import (
    _SQL_REGISTRY,
    VersionedTable,
    resolve_versioned_table,
)

#: stream name (lowercased) -> the temp view of this session's last read
_STREAMS: dict[str, str] = {}


CREATE_STREAM = re.compile(
    r"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?STREAM\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.`\"]+)\s+ON\s+TABLE\s+"
    r"(?P<table>[\w.`\"]+)\s*(?P<opts>.*?)\s*$"
)
DROP_STREAM = re.compile(
    r"(?is)^\s*DROP\s+STREAM\s+(?:IF\s+EXISTS\s+)?(?P<name>[\w.`\"]+)\s*$"
)
_OPT = re.compile(r"(?i)(APPEND_ONLY|SHOW_INITIAL_ROWS)\s*=\s*(TRUE|FALSE)")


def _norm(name: str) -> str:
    return name.strip('`"').lower()


def _logs() -> dict[str, dict[str, CommitLog]]:
    """Stream name -> {table root: offset log}, over the registered tables."""
    out: dict[str, dict[str, CommitLog]] = {}
    for root in set(_SQL_REGISTRY.values()):
        base = os.path.join(root, "_streams")
        for name in os.listdir(base) if os.path.isdir(base) else ():
            if (log := CommitLog(os.path.join(base, name))).head():
                out.setdefault(name, {})[root] = log
    return out


def _find(name: str) -> tuple[str, CommitLog] | None:
    """(table root, offset log) of stream ``name``, or None."""
    hits = _logs().get(_norm(name), {})
    if len(hits) > 1:
        raise ValueError(f"stream {name!r} exists under more than one "
                         f"registered table: {sorted(hits)}")
    return next(iter(hits.items()), None)


def _state(name: str) -> tuple[str, CommitLog, int, dict]:
    """(table root, log, head, head entry) of stream ``name``."""
    if (found := _find(name)) is None:
        raise ValueError(f"no stream {name!r} on a registered versioned table")
    root, log = found
    head = log.head()
    return root, log, head, log.read(head)


def create_stream(
    spark: SparkSession, stmt: str, task_id: str
) -> bool:
    """Handle a CREATE STREAM statement; returns True when it was one."""
    m = CREATE_STREAM.match(stmt)
    if not m:
        return False
    name, table = _norm(m.group("name")), m.group("table").strip('`"')
    old = _find(name)
    if m.group("ine") and old:
        return True
    opts = dict(
        (k.upper(), v.upper() == "TRUE")
        for k, v in _OPT.findall(m.group("opts") or "")
    )
    leftover = _OPT.sub("", m.group("opts") or "").strip()
    if leftover:
        raise ValueError(
            f"sql task {task_id!r}: CREATE STREAM option(s) {leftover!r} "
            "unsupported by the shim (APPEND_ONLY and SHOW_INITIAL_ROWS "
            "translate; AT/BEFORE stream cloning does not)"
        )
    vt = resolve_versioned_table(spark, table)
    if vt is None or not vt.exists():
        raise ValueError(
            f"sql task {task_id!r}: CREATE STREAM on {table!r}, which is "
            "not a registered versioned table — streams need change "
            "tracking; create the table as a plans.versioned.VersionedTable "
            "and expose it via register_versioned_table(name, root)"
        )
    if old and old[0] != vt.root:  # replaced onto another table
        shutil.rmtree(old[1].root)
    log = CommitLog(os.path.join(vt.root, "_streams", name))
    log.append(log.head() + 1, {
        "offset": 0 if opts.get("SHOW_INITIAL_ROWS") else vt.current_version(),
        "append_only": bool(opts.get("APPEND_ONLY")),
    })
    return True


def drop_stream(stmt: str) -> bool:
    m = DROP_STREAM.match(stmt)
    if not m:
        return False
    name = _norm(m.group("name"))
    if found := _find(name):
        shutil.rmtree(found[1].root)
    _STREAMS.pop(name, None)
    return True


def stream_names() -> list[str]:
    return sorted(_logs())


def stream_offset(name: str) -> int:
    return _state(name)[3]["offset"]


def clear_streams() -> None:
    """Forget this session's stream views; the streams themselves persist."""
    _STREAMS.clear()


def _feed(spark: SparkSession, name: str) -> tuple[DataFrame, int, int]:
    """The stream's pending changes, its offset and the table version the
    changes run to."""
    from pyspark.sql import functions as F

    root, _, _, info = _state(name)
    vt = VersionedTable(spark, root)
    cur = vt.current_version()
    df = vt.changes(info["offset"], cur)
    if info["append_only"]:
        df = df.filter(F.col("_change_type") == "insert")
    return df, info["offset"], cur


def resolve_stream_view(
    spark: SparkSession, name: str
) -> tuple[str, int]:
    """Materialize the stream's current contents as a temp view; returns
    (view name, captured table version) — the version the consumer must
    advance the offset to on a successful DML."""
    from pyspark.sql import functions as F

    df, offset, cur = _feed(spark, name)
    data_cols = [
        c for c in df.columns if c not in ("_change_type", "_commit_version")
    ]
    out = df.select(
        *data_cols,
        F.upper("_change_type").alias("METADATA$ACTION"),
        F.lit(False).alias("METADATA$ISUPDATE"),
        F.md5(
            F.concat_ws(
                "\x1f",
                F.to_json(F.struct(*data_cols)),
                F.col("_commit_version").cast("string"),
            )
        ).alias("METADATA$ROW_ID"),
    )
    # a temp view name is one identifier: ``db.s`` reads as ``db_s``
    view = "__stream_{}_{}_{}".format(re.sub(r"\W", "_", _norm(name)), offset, cur)
    # one live view per stream: drop the previous (offset, version) view so
    # a long session does not leak a catalog entry per read (ADVICE r8).
    # A view embedded in a longer-lived object (CREATE VIEW ... FROM s) is
    # NOT protected here — see the module-contract note on folding.
    prev = _STREAMS.get(_norm(name))
    if prev is not None and prev != view:
        spark.catalog.dropTempView(prev)
    out.createOrReplaceTempView(view)
    _STREAMS[_norm(name)] = view
    return view, cur


def advance_stream(name: str, to_version: int) -> None:
    """Append ``max(offset, to_version)`` to the stream's log (nothing when
    the offset is already there)."""
    while True:
        _, log, head, info = _state(name)
        if to_version <= info["offset"]:
            return
        try:
            log.append(head + 1, {**info, "offset": to_version})
            return
        except ConcurrentWriteError:  # another consumer advanced: re-read
            continue


def stream_has_data(spark: SparkSession, name: str) -> bool:
    """Exact SYSTEM$STREAM_HAS_DATA: probes the feed for one row (a
    net-zero commit — e.g. OPTIMIZE — correctly reports no data)."""
    df, _, _ = _feed(spark, name)
    return len(df.take(1)) > 0
