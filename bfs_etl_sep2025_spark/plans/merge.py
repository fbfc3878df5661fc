"""Executable ``MERGE INTO`` for the plain-parquet session catalog.

The reference's warehouse loads lean on Snowflake-side ``MERGE`` for upserts
(the arbitrary-SQL pass-through of ``/root/reference/dags/dev_db_test.py:
41-70`` makes every Snowflake statement shape reachable), and the engine's
statement splitter already recognizes ``MERGE INTO`` as a write head for
lock serialization — this module makes the statement actually execute.

Spark's SQL ``MERGE INTO`` needs a v2 table provider (Delta/Iceberg, jars
absent here), but MERGE semantics decompose into ONE join over the
snapshot: the target, each row tagged with an id, joins the source, each
row tagged with a match marker, on ``ON`` — a FULL OUTER join when the
statement has INSERT branches, a LEFT join otherwise. Each output row is
one of three kinds:

- matched (id and marker set) -> the first true WHEN MATCHED branch
  UPDATEs (a CASE per assigned column) or DELETEs (filtered out)
- target only (marker NULL) -> the first true NOT MATCHED BY SOURCE
  branch UPDATEs or DELETEs it; otherwise it is kept as-is
- source only (id NULL, FULL OUTER only) -> the first true INSERT branch
  projects it to the target schema (missing columns become typed NULLs);
  it is dropped when no branch applies

The select is written ONCE as the table's next snapshot, or as the next
content of just the partitions the source touches (:func:`swap_snapshot`);
a failed write leaves the target untouched. Each input is read and
evaluated once, so a nondeterministic source is seen once too. An
insert-only MERGE changes no existing row, so it is a plain append of the
source rows a ``LEFT ANTI JOIN`` finds unmatched. The rewrite keeps the
statement's own aliases so ``ON``/``SET``/``VALUES`` expressions run
verbatim.

Supported grammar (the common warehouse shapes — Snowflake's MERGE plus
the SQL-Server/Databricks ``BY SOURCE`` extension)::

    MERGE INTO <tgt> [[AS] t] USING <src | (subquery)> [[AS] s]
    ON <cond>
    [WHEN MATCHED [AND <guard>] THEN UPDATE SET col = expr [, ...]] ...
    [WHEN MATCHED [AND <guard>] THEN DELETE] ...
    [WHEN NOT MATCHED [BY TARGET] [AND <guard>]
         THEN INSERT [(cols)] VALUES (exprs)] ...
    [WHEN NOT MATCHED BY SOURCE [AND <guard>] THEN UPDATE SET ...] ...
    [WHEN NOT MATCHED BY SOURCE [AND <guard>] THEN DELETE] ...

``NOT MATCHED BY TARGET`` is the standard synonym for plain ``NOT
MATCHED``; ``NOT MATCHED BY SOURCE`` selects target rows with no source
match — the full-sync clause (delete/retire rows that vanished upstream)
a warehouse user migrating through the reference's arbitrary-SQL
chokepoint (``/root/reference/dags/dev_db_test.py:41-70``) reaches next.
Its SET expressions may reference only target columns (source columns are
all NULL on that side by construction).

Multiple guarded branches per match side are evaluated in statement order —
the first branch whose guard is true applies (Snowflake's rule); a branch
after an unguarded one on the same side is unreachable and rejected. The
standard MERGE precondition — the source must be unique on the join key —
is ENFORCED at runtime when any MATCHED or BY SOURCE branch exists: a
matched row whose target row matches more than one source row calls
``raise_error`` inside the same write job — mirroring Snowflake's
nondeterministic-merge error instead of silently fanning out the join.
When ``ON`` is a flat conjunction of ``t.col = s.col`` with same-typed
sides, the matches are counted in the source subquery, partitioned by its
join columns, so the count reuses the source's own exchange and the target
is never shuffled for it. Any other ``ON`` (an extra non-equi conjunct, a
type-coerced key) counts per target row over the join output.

Scale notes: an update-only MERGE keeps the LEFT join, so a small daily
source stays broadcast and the target is scanned once, unshuffled; a MERGE
with inserts shuffles the target once for the FULL OUTER join — the join
shape Delta's MERGE plans under the hood (join on the merge key; AQE
handles skew). Rewriting the whole snapshot is the price of no
transactional table format; at 100 TB you'd point the identical statement
at a Delta/Iceberg catalog instead.
"""

from __future__ import annotations

import dataclasses
import datetime
import json
import re
import uuid
from dataclasses import dataclass, field

from bfs_etl_sep2025_spark.plans.sqlsplit import (
    blank_quoted,
    keyword_positions,
    match_close,
    split_top_level,
)

_MERGE_HEAD = re.compile(r"(?i)^\s*MERGE\s+INTO\s+")
_USING = re.compile(r"(?i)USING\b")
_ON = re.compile(r"(?i)ON\b")
_WHEN = re.compile(r"(?i)WHEN\b")
_WHEN_HEAD = re.compile(
    r"(?is)^WHEN\s+(?P<not>NOT\s+)?MATCHED"
    r"(?:\s+BY\s+(?P<by>SOURCE|TARGET)\b)?"
)
_THEN = re.compile(r"(?i)THEN\b")
_AND_HEAD = re.compile(r"(?is)^AND\b")
_UPDATE_ACT = re.compile(r"(?is)^UPDATE\s+SET\s+(?P<sets>.+)$")
_DELETE_ACT = re.compile(r"(?is)^DELETE\s*$")
_INSERT_ACT = re.compile(
    r"(?is)^INSERT\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?VALUES\s*\((?P<vals>.+)\)\s*$"
)


def is_merge(stmt: str) -> bool:
    return bool(_MERGE_HEAD.match(stmt))


@dataclass
class MatchedBranch:
    """One ``WHEN MATCHED [AND guard] THEN UPDATE|DELETE`` clause."""

    guard: str | None  # extra AND condition, verbatim; None = unguarded
    delete: bool = False
    sets: dict[str, str] = field(default_factory=dict)  # col -> expr


@dataclass
class InsertBranch:
    """One ``WHEN NOT MATCHED [AND guard] THEN INSERT`` clause."""

    guard: str | None
    cols: list[str] | None  # None = full target column list
    vals: list[str] = field(default_factory=list)


@dataclass
class MergeSpec:
    target: str
    target_alias: str
    source_sql: str  # table name or parenthesized subquery, verbatim
    source_alias: str
    on: str
    matched: list[MatchedBranch] = field(default_factory=list)
    not_matched: list[InsertBranch] = field(default_factory=list)
    #: WHEN NOT MATCHED BY SOURCE branches (UPDATE/DELETE on target rows
    #: with no source match) — same dataclass as matched: identical actions
    nm_by_source: list[MatchedBranch] = field(default_factory=list)


def _name_and_alias(fragment: str) -> tuple[str, str]:
    """``db.tbl [AS] alias`` or ``(subquery) [AS] alias`` -> (sql, alias);
    the alias defaults to the bare table name (SQL's own scoping rule)."""
    frag = fragment.strip()
    if frag.startswith("("):
        end = match_close(frag, 0) or len(frag)
        sql, rest = frag[:end], frag[end:].strip()
    else:
        toks = frag.split(None, 1)
        sql, rest = toks[0], (toks[1] if len(toks) > 1 else "")
    rest = re.sub(r"(?i)^AS\s+", "", rest.strip())
    alias = rest.split()[0] if rest else sql.split(".")[-1].strip('`"')
    return sql, alias


def parse_sets(text: str) -> dict[str, str]:
    """``col = expr [, ...]`` of an UPDATE SET list -> {column: expr}; a
    qualified column (``t.col``) keeps its last part."""
    sets: dict[str, str] = {}
    for assign in split_top_level(text):
        col, _, expr = assign.partition("=")
        if not expr:
            raise ValueError(f"bad SET assignment: {assign!r}")
        sets[col.strip().split(".")[-1].strip('`"')] = expr.strip()
    return sets


def parse_merge(stmt: str) -> MergeSpec:
    m = _MERGE_HEAD.match(stmt)
    if not m:
        raise ValueError("not a MERGE INTO statement")
    body = stmt[m.end() :]
    using_at = next(keyword_positions(_USING, body), None)
    on_at = when_ats = None
    if using_at is not None:
        on_at = next(keyword_positions(_ON, body, using_at), None)
    if on_at is not None:
        when_ats = list(keyword_positions(_WHEN, body, on_at))
    if not when_ats:
        raise ValueError(
            "unsupported MERGE shape: need USING ... ON ... WHEN ..."
        )
    target, talias = _name_and_alias(body[:using_at])
    source_sql, salias = _name_and_alias(body[using_at + len("USING") : on_at])
    on = body[on_at + len("ON") : when_ats[0]].strip()
    spec = MergeSpec(target, talias, source_sql, salias, on)
    bounds = when_ats + [len(body)]
    for a, b in zip(bounds, bounds[1:]):
        clause = body[a:b].strip()
        head = _WHEN_HEAD.match(clause)
        if not head:
            raise ValueError(f"unsupported MERGE clause: {clause[:60]!r}")
        is_not = bool(head.group("not"))
        by = (head.group("by") or "").upper()
        if by and not is_not:
            raise ValueError(
                f"unsupported MERGE clause: WHEN MATCHED BY {by} "
                "(BY SOURCE/TARGET qualify only NOT MATCHED)"
            )
        by_source = by == "SOURCE"  # BY TARGET == plain NOT MATCHED
        rest = clause[head.end() :].strip()
        # optional AND <guard> runs to the first top-level THEN
        guard: str | None = None
        then_at = next(keyword_positions(_THEN, rest), None)
        if then_at is None:
            raise ValueError(f"MERGE clause missing THEN: {clause[:60]!r}")
        between = rest[:then_at].strip()
        if between:
            gm = _AND_HEAD.match(between)
            if not gm:
                raise ValueError(
                    f"unsupported MERGE clause head: {clause[:60]!r}"
                )
            guard = between[gm.end() :].strip()
            if not guard:
                raise ValueError(f"empty MERGE guard: {clause[:60]!r}")
        action = rest[then_at + len("THEN") :].strip()
        if by_source:
            prior: list = spec.nm_by_source
            side = "NOT MATCHED BY SOURCE"
        elif is_not:
            prior = spec.not_matched
            side = "NOT MATCHED"
        else:
            prior = spec.matched
            side = "MATCHED"
        if prior and prior[-1].guard is None:
            raise ValueError(
                f"MERGE: branch after an unguarded WHEN {side} is unreachable"
            )
        update_side = by_source or not is_not  # sides taking UPDATE/DELETE
        if update_side and _DELETE_ACT.match(action):
            prior.append(MatchedBranch(guard=guard, delete=True))
        elif update_side and (mm := _UPDATE_ACT.match(action)):
            sets = parse_sets(mm.group("sets"))
            prior.append(MatchedBranch(guard=guard, sets=sets))
        elif is_not and not by_source and (mm := _INSERT_ACT.match(action)):
            cols = mm.group("cols")
            spec.not_matched.append(
                InsertBranch(
                    guard=guard,
                    cols=(
                        [c.strip().strip('`"') for c in cols.split(",")]
                        if cols
                        else None
                    ),
                    vals=split_top_level(mm.group("vals")),
                )
            )
        else:
            raise ValueError(f"unsupported MERGE clause: {clause[:60]!r}")
    return spec


#: ``raise_error`` text of the duplicate-match check; :func:`run_merge` maps
#: it to the nondeterministic-MERGE ``ValueError``
_DUP_MATCH = "MERGE_TARGET_ROW_MATCHES_MULTIPLE_SOURCE_ROWS"


def _rewrite(
    spark, spec: MergeSpec, tgt_fields: list[tuple[str, str]]
) -> str:
    """The merged snapshot as ONE join of the target and the source.
    ``tgt_fields`` is [(name, spark_sql_type)] from the live table schema.

    The target (tagged with a row id) joins the source (tagged with a match
    marker) on ``ON`` — a FULL OUTER join when the statement inserts, a LEFT
    join otherwise. A row without a target id is an unmatched source row:
    the first INSERT branch whose guard holds projects it, and it is dropped
    when none does. Every other row is a target row; its matched and BY
    SOURCE branches compile to one first-true-wins ``CASE`` selecting a
    branch ordinal (0 = no branch applies, keep the row as-is). The ordinal
    expression is inlined wherever needed — Catalyst's common-subexpression
    elimination shares it — so the plan stays one join whatever the branch
    count, the shape Delta plans for a multi-branch MERGE.

    The same select carries the duplicate-match check, and a matched row
    whose target row matches several source rows raises from inside the
    write. Where :func:`_source_count_keys` allows, the count is taken on
    the source side, partitioned by its join keys, so it reuses the
    source's own exchange and never shuffles the target; otherwise a window
    over the join output counts the matches of each target row."""
    t, s = spec.target_alias, spec.source_alias
    # first-true-wins branch ordinal over BOTH target-side clause lists;
    # 0 = untouched target row. The two sides' conditions are mutually
    # exclusive (__merge_m is true iff a source row matched), so one CASE
    # serves both.
    sided: list[tuple[str, MatchedBranch]] = [
        (f"{s}.__merge_m", b) for b in spec.matched
    ] + [(f"{s}.__merge_m IS NULL", b) for b in spec.nm_by_source]
    arms = "".join(
        f" WHEN {cond}"
        + (f" AND ({b.guard})" if b.guard is not None else "")
        + f" THEN {i}"
        for i, (cond, b) in enumerate(sided, start=1)
    )
    act = f"CASE{arms} ELSE 0 END"
    del_ids = [str(i) for i, (_, b) in enumerate(sided, start=1) if b.delete]
    updated = [
        (
            f"CASE ({act})"
            + "".join(
                f" WHEN {i} THEN ({b.sets[c]})"
                for i, (_, b) in enumerate(sided, start=1)
                if not b.delete and c in b.sets
            )
            + f" ELSE {t}.{c} END"
        )
        if any(not b.delete and c in b.sets for _, b in sided)
        else f"{t}.{c}"
        for c, _ in tgt_fields
    ]
    keep = f"({act}) NOT IN ({', '.join(del_ids)})" if del_ids else "true"
    src = "*, true AS __merge_m"
    unmatched = f"{t}.__merge_rid IS NULL"
    src_keys = _source_count_keys(spark, spec, tgt_fields)
    if src_keys is not None:
        src += (
            ", count(1) OVER (PARTITION BY "
            f"{', '.join(map(_quote, src_keys))}) AS __merge_n"
        )
        dup = f"{t}.__merge_rid IS NOT NULL AND {s}.__merge_n > 1"
    else:
        # one window per target row; target-side equi-join columns lead
        # the keys so a shuffled join's distribution serves the window, and
        # each unmatched source row gets a window of its own
        keys = [f"{t}.{tcol}" for tcol, _ in _equi_pairs(spec)[0]]
        keys.append(f"{t}.__merge_rid")
        if spec.not_matched:
            src += ", monotonically_increasing_id() AS __merge_sid"
            keys.append(f"CASE WHEN {unmatched} THEN {s}.__merge_sid END")
        dup = (
            f"count({s}.__merge_m) OVER (PARTITION BY {', '.join(keys)}) > 1"
        )
    if spec.not_matched:
        inserted, applies = _insert_cols(spec, tgt_fields)
        # both arms share one output column: the inserted value takes the
        # column's type here, as the snapshot's store cast gives it anyway
        cols = [
            f"CASE WHEN {unmatched} THEN CAST({ins} AS {typ}) "
            f"ELSE {upd} END"
            for (_, typ), ins, upd in zip(tgt_fields, inserted, updated)
        ]
        keep = f"CASE WHEN {unmatched} THEN {applies} ELSE {keep} END"
        join = "FULL OUTER JOIN"
    else:
        cols, join = updated, "LEFT JOIN"
    names = [c for c, _ in tgt_fields]
    proj = ", ".join(f"{e} AS {c}" for e, c in zip(cols, names))
    return (
        f"SELECT {', '.join(names)} FROM ("
        f"SELECT {proj}, {keep} AS __merge_keep, {dup} AS __merge_dup "
        f"FROM (SELECT *, monotonically_increasing_id() AS __merge_rid "
        f"FROM {spec.target}) AS {t} "
        f"{join} (SELECT {src} FROM {spec.source_sql}) AS {s} "
        f"ON {spec.on}) "
        f"WHERE CASE WHEN __merge_dup THEN raise_error('{_DUP_MATCH}') "
        f"ELSE __merge_keep END"
    )


def _insert_cols(
    spec: MergeSpec, tgt_fields: list[tuple[str, str]]
) -> tuple[list[str], str]:
    """Per target column, the value an unmatched source row is inserted
    with: the first INSERT branch whose guard holds gives it, a typed NULL
    when that branch lists no value for the column. Also returns the
    condition that some branch applies. One unguarded branch takes the same
    general form, ``CASE (CASE WHEN true THEN 1 ...) WHEN 1 THEN v ...``
    and ``<> 0``, which Catalyst folds to the plain value and ``true``."""
    names = [c for c, _ in tgt_fields]
    per_branch_vals: list[dict[str, str]] = []
    for b in spec.not_matched:
        icols = b.cols if b.cols is not None else names
        if len(icols) != len(b.vals):
            raise ValueError("MERGE INSERT: column/value count mismatch")
        per_branch_vals.append(dict(zip(icols, b.vals)))
    arms = "".join(
        f" WHEN ({b.guard}) THEN {i}"
        if b.guard is not None
        else f" WHEN true THEN {i}"
        for i, b in enumerate(spec.not_matched, start=1)
    )
    iact = f"CASE{arms} ELSE 0 END"
    return [
        (
            f"CASE ({iact})"
            + "".join(
                f" WHEN {i} THEN ({vals[c]})"
                for i, vals in enumerate(per_branch_vals, start=1)
                if c in vals
            )
            + f" ELSE CAST(NULL AS {typ}) END"
        )
        if any(c in vals for vals in per_branch_vals)
        else f"CAST(NULL AS {typ})"
        for c, typ in tgt_fields
    ], f"({iact}) <> 0"


def _insert_select(spec: MergeSpec, tgt_fields: list[tuple[str, str]]) -> str:
    """The insert-only MERGE's rows: source rows with no target match,
    projected to the target schema by :func:`_insert_cols`. Duplicate
    source rows cannot fan target rows out here: the anti join only ever
    drops source rows."""
    t, s = spec.target_alias, spec.source_alias
    inserted, applies = _insert_cols(spec, tgt_fields)
    proj = ", ".join(f"{e} AS {c}" for e, (c, _) in zip(inserted, tgt_fields))
    return (
        f"SELECT {proj} FROM {spec.source_sql} AS {s} "
        f"LEFT ANTI JOIN {spec.target} AS {t} ON {spec.on} WHERE {applies}"
    )


_BOOL_OP = re.compile(r"(?i)(AND|OR|NOT)\b")


def _split_top_and(cond: str) -> list[str] | None:
    """Split a condition on its top-level ANDs; None when a top-level OR or
    NOT makes it more than a flat conjunction. The conjuncts come back with
    their literals and comments blanked (:func:`blank_quoted`)."""
    text = blank_quoted(cond)
    parts, last = [], 0
    for i in keyword_positions(_BOOL_OP, text):
        if text[i : i + 3].upper() != "AND":
            return None
        parts.append(text[last:i])
        last = i + 3
    parts.append(text[last:])
    return parts


_EQ_CONJUNCT = re.compile(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$")


def _equi_pairs(spec: MergeSpec) -> tuple[list[tuple[str, str]], bool]:
    """The ``(target col, source col)`` pair of each ``t.col = s.col``
    conjunct of ``ON`` (either side first), and whether ``ON`` is a flat
    conjunction of nothing but such conjuncts."""
    conj = _split_top_and(spec.on)
    if conj is None:
        return [], False
    t, s = spec.target_alias, spec.source_alias
    pairs = []
    for c in conj:
        if m := _EQ_CONJUNCT.match(c):
            aal, acol, bal, bcol = m.groups()
            if (aal, bal) == (t, s):
                pairs.append((acol, bcol))
            elif (aal, bal) == (s, t):
                pairs.append((bcol, acol))
    return pairs, len(pairs) == len(conj)


def _source_count_keys(
    spark, spec: MergeSpec, tgt_fields: list[tuple[str, str]]
) -> list[str] | None:
    """The source columns the duplicate-match count may partition by, or
    None when the count must be taken per target row.

    Two source rows match one target row exactly when they agree on these
    columns if ``ON`` is a flat conjunction of ``t.col = s.col`` whose two
    sides have one type. A coerced pair breaks that: against a ``BIGINT``
    target key the ``STRING`` source keys ``'1'`` and ``'01'`` differ, yet
    both match the target row ``1``. The source types come from analysing
    the source, which runs no job."""
    pairs, flat = _equi_pairs(spec)
    if not flat:
        return None
    tgt = {c.lower(): typ for c, typ in tgt_fields}
    src = {
        f.name.lower(): f.dataType.simpleString()
        for f in spark.sql(f"SELECT * FROM {spec.source_sql}").schema.fields
    }
    for tcol, scol in pairs:
        typ = tgt.get(tcol.lower())
        if typ is None or typ != src.get(scol.lower()):
            return None
    return list(dict.fromkeys(scol for _, scol in pairs))


def _part_literal(v) -> str | None:
    """``v`` as a SQL literal, or None for a partition value pruning cannot
    name (NULL, '', or a type other than integer, string and date)."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):  # '' lands in the NULL (Hive default) partition
        return "'" + v.replace("'", "''") + "'" if v else None
    # DATE partitions are the most common real layout; datetime.date is
    # NOT a datetime (checked in that order — datetime is a date subclass)
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return f"DATE'{v.isoformat()}'"
    return None


def _part_string(v) -> str:
    """A partition value as its directory name spells it, before escaping."""
    return v.isoformat() if isinstance(v, datetime.date) else str(v)


#: cap on distinct touched partitions before pruning stops paying for its
#: own bookkeeping and the full rewrite is simpler
_MAX_TOUCHED_PARTITIONS = 128


@dataclass(frozen=True)
class TableMeta:
    """Everything a rewrite needs about its target, from ONE catalog read."""

    name: str  # `db`.`table`, quoted for SQL
    database: str
    table: str
    schema: object  # pyspark StructType
    pcols: list[str]
    provider: str
    managed: bool
    #: (bucket count, bucket columns, sort columns); None = not bucketed
    buckets: tuple[int, list[str], list[str]] | None
    location: str
    options: dict[str, str]

    @property
    def fields(self) -> list[tuple[str, str]]:
        return [(f.name, f.dataType.simpleString()) for f in self.schema.fields]

    @property
    def bucketed(self) -> bool:
        return self.buckets is not None


def _quote(ident: str) -> str:
    return "`" + ident.replace("`", "``") + "`"


def _seq(s) -> list:
    """A Scala ``Seq`` as a list, read by size and index: py4j ends every
    Java-iterator walk with a JVM exception."""
    return [s.apply(i) for i in range(s.size())]


def table_meta(spark, name: str) -> TableMeta:
    """One ``getTableMetadata`` read of ``name``: partition columns,
    provider, table type, bucket spec, location and schema. A catalog
    lookup only — it neither lists files nor analyses a plan."""
    from pyspark.sql.types import StructType

    jss = spark._jsparkSession
    ident = jss.sessionState().sqlParser().parseTableIdentifier(name)
    meta = jss.sessionState().catalog().getTableMetadata(ident)
    database = meta.identifier().database().get()
    table = meta.identifier().table()
    provider = meta.provider()
    b = meta.bucketSpec().get() if meta.bucketSpec().isDefined() else None
    return TableMeta(
        name=f"{_quote(database)}.{_quote(table)}",
        database=database,
        table=table,
        schema=StructType.fromJson(json.loads(meta.schema().json())),
        pcols=StructType.fromJson(
            json.loads(meta.partitionSchema().json())
        ).names,
        provider=provider.get() if provider.isDefined() else "hive",
        managed=meta.tableType().name() == "MANAGED",
        buckets=b and (
            b.numBuckets(),
            _seq(b.bucketColumnNames()),
            _seq(b.sortColumnNames()),
        ),
        location=meta.location().toString(),
        options={
            kv._1(): kv._2() for kv in _seq(meta.storage().properties().toSeq())
        },
    )


def partition_spec(utils, rel: str) -> str:
    """``PARTITION (...)`` for a relative partition path like
    ``d=2022-07-13/h=3`` (``utils`` is Spark's ``ExternalCatalogUtils``; the
    catalog casts each string value to its column's type)."""
    pairs = []
    for seg in rel.split("/"):
        key, val = map(utils.unescapePathName, seg.split("=", 1))
        esc = val.replace("\\", "\\\\").replace("'", "\\'")
        lit = "NULL" if val == utils.DEFAULT_PARTITION_NAME() else f"'{esc}'"
        pairs.append(f"{_quote(key)} = {lit}")
    return f"PARTITION ({', '.join(pairs)})"


def _store_cast(schema) -> list[str]:
    """The table-insert contract for a path write: each column CAST to its
    declared type, and CHAR/VARCHAR values length-checked as ``INSERT``
    checks them (trailing spaces past the limit are trimmed, CHAR is
    padded, anything longer raises)."""
    out = []
    for f in schema.fields:
        c = _quote(f.name)
        e = f"CAST({c} AS {f.dataType.simpleString()})"
        m = re.fullmatch(
            r"(char|varchar)\((\d+)\)",
            f.metadata.get("__CHAR_VARCHAR_TYPE_STRING", ""),
        )
        if m:
            kind, n = m.groups()
            fit = f"substr({e}, 1, {n})"
            if kind == "char":
                fit = f"rpad({fit}, {n}, ' ')"
            e = (
                f"CASE WHEN char_length(rtrim({e})) > {n} THEN raise_error("
                f"'Exceeds char/varchar type length limitation: {n}') "
                f"ELSE {fit} END"
            )
        out.append(f"{e} AS {c}")
    return out


def _forget_partitions(spark, name: str) -> None:
    """Drop every partition entry of ``name`` from the catalog, keeping the
    data (``retainData``), so RECOVER PARTITIONS can re-register them from
    a new layout."""
    jss = spark._jsparkSession
    jvm = spark._jvm
    cat = jss.sessionState().catalog()
    ident = jss.sessionState().sqlParser().parseTableIdentifier(name)
    parts = cat.listPartitions(ident, jvm.scala.Option.empty())
    specs = jvm.scala.jdk.javaapi.CollectionConverters.asScala(
        [p.spec() for p in _seq(parts)]
    ).toSeq()
    # ignoreIfNotExists, purge, retainData
    cat.dropPartitions(ident, specs, True, False, True)


def table_fs(spark, meta: TableMeta):
    """The table location as a Hadoop ``Path``, and its ``FileSystem``."""
    root = spark._jvm.org.apache.hadoop.fs.Path(meta.location)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return root, root.getFileSystem(conf)


def _write(spark, meta: TableMeta, select, path: str) -> None:
    """Write ``select`` (SQL text or a DataFrame) under ``path`` in the
    table's layout: by column name, cast as :func:`_store_cast` casts,
    partitioned and bucketed like the table. A path write cannot bucket, so
    bucketed files go through a throwaway external table over ``path``,
    dropped at once."""
    src = spark.sql(select) if isinstance(select, str) else select
    w = (
        src.selectExpr(*_store_cast(meta.schema))
        .write.format(meta.provider)
        .options(**meta.options)
        .partitionBy(*meta.pcols)
    )
    if meta.buckets is None:
        w.save(path)
        return
    n, cols, sort = meta.buckets
    w = w.bucketBy(n, *cols)
    if sort:
        w = w.sortBy(*sort)
    entry = f"{_quote(meta.database)}.{_quote('__swap_' + uuid.uuid4().hex)}"
    try:
        w.saveAsTable(entry, path=path)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {entry}")


def swap_snapshot(spark, meta: TableMeta, select: str, partitions=None) -> None:
    """Make ``select`` the table's new content with ONE Spark write
    (:func:`_write`) — the only way a catalog table is rewritten.

    Without ``partitions``, ``select`` is the whole table. A managed table
    flips onto a fresh directory beside it with ``SET LOCATION``. An
    external table keeps its ``LOCATION`` (another process may re-register
    a table over the path): the snapshot is written to a ``_rewrite-*``
    directory inside it, which Spark's file index skips, and replaces the
    old files from there. Partition entries are re-registered from the new
    layout with RECOVER PARTITIONS.

    With ``partitions`` — the touched partition values, one tuple each in
    partition-column order — ``select`` is the new content of just those
    partitions, written to ``_rewrite-*``. Each one's old directory is
    deleted and the new one renamed in if the write produced it (an emptied
    one takes its then-empty parent directories with it); the
    touched entries are dropped and the produced ones added back at that
    path, so an emptied partition leaves the catalog. Nothing else is read,
    written or re-registered.

    A failed write — including a ``raise_error`` from inside ``select`` —
    leaves the table untouched; a crash inside a file swap leaves the whole
    new content in ``_rewrite-*``. Callers serialize writers per table
    (``plans/locks.py``)."""
    if meta.provider.lower() == "hive":
        raise ValueError(f"{meta.name}: Hive-format tables cannot be rewritten")
    Path = spark._jvm.org.apache.hadoop.fs.Path
    old, fs = table_fs(spark, meta)
    tag = uuid.uuid4().hex[:12]
    beside = meta.managed and partitions is None
    if beside:
        fresh = Path(old.getParent(), f"{meta.table}-{tag}")
    else:
        fresh = Path(old, f"_rewrite-{tag}")
    try:
        _write(spark, meta, select, fresh.toString())
    except BaseException:
        fs.delete(fresh, True)
        raise

    def move_in(rels) -> list[str]:
        moved = []
        for rel in rels:
            dst, src = Path(old, rel), Path(fresh, rel)
            fs.delete(dst, True)
            if fs.exists(src):
                fs.mkdirs(dst.getParent())
                fs.rename(src, dst)
                moved.append(rel)
                continue
            # an emptied leaf takes its emptied ancestor directories along
            up = dst.getParent()
            while (
                not up.equals(old) and fs.exists(up) and not fs.listStatus(up)
            ):
                fs.delete(up, False)
                up = up.getParent()
        fs.delete(fresh, True)
        return moved

    if partitions is not None:
        utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        specs = {}  # relative partition path -> PARTITION clause
        for values in partitions:
            rel = "/".join(
                utils.getPartitionPathString(p, _part_string(v))
                for p, v in zip(meta.pcols, values)
            )
            specs[rel] = partition_spec(utils, rel)
        if specs:  # a managed table's DROP deletes the old directories too
            drop = ", ".join(specs.values())
            spark.sql(f"ALTER TABLE {meta.name} DROP IF EXISTS {drop}")
        if added := [specs[rel] for rel in move_in(specs)]:
            add = " ".join(added)
            spark.sql(f"ALTER TABLE {meta.name} ADD IF NOT EXISTS {add}")
        spark.catalog.refreshTable(meta.name)
        return
    if meta.pcols:
        _forget_partitions(spark, meta.name)
    if beside:
        loc = fresh.toString().replace("\\", "\\\\").replace("'", "\\'")
        spark.sql(f"ALTER TABLE {meta.name} SET LOCATION '{loc}'")
        fs.delete(old, True)
    else:
        names = {st.getPath().getName() for st in fs.listStatus(old)}
        names |= {st.getPath().getName() for st in fs.listStatus(fresh)}
        move_in(names - {fresh.getName()})
        spark.catalog.refreshTable(meta.name)
    if meta.pcols:
        spark.sql(f"ALTER TABLE {meta.name} RECOVER PARTITIONS")


def _partition_pruning(spark, spec: MergeSpec, meta: TableMeta):
    """Decide whether this MERGE can rewrite ONLY the target partitions the
    source actually touches (the catalog-table analog of Delta's file-level
    MERGE pruning). Safe exactly when every modified-or-inserted row is
    provably confined to partitions named by the source:

    - the target is partitioned;
    - no NOT MATCHED BY SOURCE branch (those touch rows in ANY partition);
    - the ON condition is a flat conjunction of ``t.col = s.col``
      equalities covering every partition column (so matched rows live in
      source-named partitions);
    - no MATCHED UPDATE assigns a partition column (rows cannot migrate
      into an untouched partition, which the swap would not pick up);
    - every INSERT assigns each partition column verbatim from the ON-
      equated source column (inserts land in touched partitions only).

    Returns ``(predicate_sql, touched, pin_view)``, ``touched`` as
    :func:`swap_snapshot` takes it; None when pruning is ruled out BEFORE
    the source is pinned; ``(None, None, pin_view)`` when it's ruled out
    AFTER (over ``_MAX_TOUCHED_PARTITIONS`` touched, a partition value with
    no literal) — the caller then runs the full rewrite against the pinned
    source, so the one-evaluation invariant holds there too.
    """
    pcols = meta.pcols
    if not pcols or spec.nm_by_source:
        return None
    pairs, flat = _equi_pairs(spec)
    if not flat:
        return None
    s_ = spec.source_alias
    eq = dict(pairs)
    if not all(p in eq for p in pcols):
        return None
    for b in spec.matched:
        if any(p in b.sets for p in pcols):
            return None
    names = [c for c, _ in meta.fields]
    for b in spec.not_matched:
        bcols = b.cols if b.cols is not None else names
        for p in pcols:
            if p not in bcols:
                return None
            v = b.vals[bcols.index(p)].strip()
            if v not in (f"{s_}.{eq[p]}", eq[p]):
                return None
    # pin ONE evaluation of the source: the touched-partition decision and
    # the rewrite must see identical data, or a nondeterministic source
    # could emit a partition the pruning view never read, and the swap
    # would drop its rows (the same one-evaluation invariant
    # VersionedTable.upsert pins)
    pin_view = "__merge_src_pin_" + re.sub(r"\W", "_", spec.target)
    spark.sql(
        f"SELECT {s_}.* FROM {spec.source_sql} AS {s_}"
    ).localCheckpoint().createOrReplaceTempView(pin_view)
    types = dict(meta.fields)
    sel = ", ".join(
        f"CAST({s_}.{eq[p]} AS {types[p]}) AS {p}" for p in pcols
    )
    touched = (  # Rows: tuples in partition-column order
        spark.sql(f"SELECT DISTINCT {sel} FROM {pin_view} AS {s_}")
        .limit(_MAX_TOUCHED_PARTITIONS + 1)
        .collect()
    )
    lits = [[_part_literal(v) for v in r] for r in touched]
    # over the cap, or a NULL/''/unsupported partition value
    if len(touched) > _MAX_TOUCHED_PARTITIONS or any(None in r for r in lits):
        return None, None, pin_view
    pred = " OR ".join(
        "(" + " AND ".join(f"{p} = {v}" for p, v in zip(pcols, r)) + ")"
        for r in lits
    )
    return pred or "false", touched, pin_view


def run_merge(spark, stmt: str) -> None:
    """Parse + execute one MERGE INTO against the session catalog.

    An insert-only MERGE changes no target row, so it appends the anti-join
    rows and rewrites nothing. Every other shape is one
    :func:`swap_snapshot` of the rewrite: of the touched partitions only
    when :func:`_partition_pruning` proves that safe — untouched partitions
    are neither read nor rewritten, the Delta-MERGE data-skipping behavior
    at partition granularity — else of the whole snapshot."""
    spec = parse_merge(stmt)
    meta = table_meta(spark, spec.target)
    if not (spec.matched or spec.nm_by_source):
        spark.sql(f"INSERT INTO {meta.name} {_insert_select(spec, meta.fields)}")
        return
    pin_view = touched = None
    decision = _partition_pruning(spark, spec, meta)
    if decision is not None:
        # a pruning bail AFTER pinning (>cap touched partitions, NULL
        # partition literal) still runs against the PINNED source, so the
        # full rewrite sees the single evaluation the probe read
        pred, touched, pin_view = decision
        spec = dataclasses.replace(spec, source_sql=pin_view)
        if pred is not None:
            spec = dataclasses.replace(
                spec, target=f"(SELECT * FROM {spec.target} WHERE {pred})"
            )
    try:
        swap_snapshot(spark, meta, _rewrite(spark, spec, meta.fields), touched)
    except Exception as e:
        if _DUP_MATCH not in str(e):
            raise
        raise ValueError(
            f"MERGE INTO {meta.name}: a target row matches multiple "
            "source rows on the ON condition — nondeterministic MERGE "
            "(deduplicate the source on the join key)"
        ) from None
    finally:
        # unconditional: the rewrite can raise mid-way, and the
        # localCheckpointed __merge_src_pin_* view pins RDD blocks for the
        # session lifetime if it survives
        if pin_view is not None:
            spark.catalog.dropTempView(pin_view)
