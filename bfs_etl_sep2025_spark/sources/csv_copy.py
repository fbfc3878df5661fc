"""CsvCopyTask — native ``COPY INTO <table> FROM @stage`` semantics.

The reference's entire ingestion surface is one operator call
(``dags/s3_data_copy_test.py:32-41``): load named, logical-date-templated
CSV files from an external stage into a pre-created table, parsing per a
Snowflake FILE_FORMAT clause, skipping files already loaded. This module
rebuilds each piece:

- stage        -> a directory/URI prefix (S3 on a real cluster, local in test)
- FILE_FORMAT  -> :func:`map_file_format`, the option-by-option mapping of
                  every format option the reference uses
                  (``dags/s3_data_copy_test.py:38-40``) onto
                  ``DataFrameReader.csv`` options, plus the multi-valued
                  NULL_IF gap which Spark cannot express natively (one
                  nullValue only) -> post-read sentinel map.
- load history -> one commit log per target table under ``ledger_path``
                  (:func:`ledger`, ``plans/commitlog.py``), one entry
                  ``{files, loaded_at, dir}`` per loaded batch.
- audit column -> ``load_utc_ts`` from the pipeline's injectable clock
                  (the reference's tables carry the same column,
                  ``dags/dev_db_test.sql:1``).

A COPY commits once, at its ledger link, and rolls forward: (1) the batch
is written with ``merge._write`` (by name, in the table's layout) into
``<location>/_copy-v<N>-<hex>``, N = ledger head + 1 — Spark's file index
skips ``_``-prefixed directories; (2) ledger entry N, naming that
directory, is linked — the commit point; (3) the staged partitions are
registered and the staged *files* renamed into place. Each COPY of the
table first finishes (3) for any committed entry whose directory is still
there and deletes any ``_copy-v<N>-*`` with N at or below the head that no
entry names (``VersionedTable.vacuum``'s rule; a higher N may be a writer
in another process). Documented divergence: a crash inside (3) leaves part
of the batch visible until the next COPY of the table finishes it —
Spark's own append job commit also renames file by file. Without a
``ledger_path`` every run loads its files.

Scale notes (100 TB): the executor-parallel CSV scan is the data path —
one Spark task per file split; the driver renders names, reads the ledger
(a few json files, no Spark job) and renames the batch's files. File-per-
run naming preserves the reference's manual partition pruning.
"""

from __future__ import annotations

import os
import re
import uuid
from typing import TYPE_CHECKING, Any

from bfs_etl_sep2025_spark.plans import merge
from bfs_etl_sep2025_spark.plans.commitlog import CommitLog
from bfs_etl_sep2025_spark.plans.tasks import RunContext, Task

if TYPE_CHECKING:
    from bfs_etl_sep2025_spark.plans.pipeline import Pipeline

#: one `key = value` item of a FILE_FORMAT clause; value is a parenthesized
#: list, a quoted string, or a bare token. The reference's own clause mixes
#: comma- and whitespace-separation (``dags/s3_data_copy_test.py:38-40``),
#: so separators are not relied upon.
_FMT_ITEM = re.compile(
    r"(?P<key>\w+)\s*=\s*(?P<val>\([^)]*\)|'(?:[^']|'')*'|[^\s,()]+)",
    re.DOTALL,
)
_QUOTED = re.compile(r"'((?:[^']|'')*)'")


def parse_file_format_clause(clause: str) -> dict[str, Any]:
    """Parse a Snowflake ``FILE_FORMAT = (...)`` clause string into the
    option dict :func:`map_file_format` takes — so a reference DAG's
    verbatim ``file_format='''(type = 'CSV', ...)'''`` argument works
    unchanged. Quoted values unescape ``''``; parenthesized values become
    lists (the multi-valued NULL_IF)."""
    body = clause.strip()
    if body.startswith("(") and body.endswith(")"):
        body = body[1:-1]
    out: dict[str, Any] = {}
    for m in _FMT_ITEM.finditer(body):
        key, val = m.group("key"), m.group("val").strip()
        if val.startswith("("):
            out[key] = [q.replace("''", "'") for q in _QUOTED.findall(val)]
        elif val.startswith("'"):
            out[key] = val[1:-1].replace("''", "'")
        else:
            out[key] = val
    return out


def map_file_format(options: dict[str, Any]) -> tuple[dict[str, Any], list[str]]:
    """Map Snowflake-style CSV format options onto ``DataFrameReader.csv``
    options. Returns (reader_options, null_sentinels): sentinels beyond the
    single ``nullValue`` Spark supports are applied as a post-read map."""
    reader: dict[str, Any] = {"mode": "PERMISSIVE"}
    sentinels: list[str] = []
    for raw_key, val in options.items():
        key = raw_key.strip().lower()
        if key == "type":
            if str(val).strip().lower() != "csv":
                raise ValueError(f"unsupported stage file type: {val!r}")
        elif key == "field_delimiter":
            reader["sep"] = str(val)
        elif key == "skip_header":
            # Snowflake skips N physical lines; with an explicit target
            # schema, header=True is exactly N=1 (names are discarded).
            n = int(val)
            if n not in (0, 1):
                raise ValueError("skip_header > 1 not supported")
            reader["header"] = n == 1
        elif key == "null_if":
            vals = [str(v) for v in (val if isinstance(val, (list, tuple)) else [val])]
            if vals:
                reader["nullValue"] = vals[0]
                sentinels.extend(vals[1:])
        elif key == "empty_field_as_null":
            if _truthy(val):
                sentinels.append("")
        elif key == "field_optionally_enclosed_by":
            if str(val).upper() != "NONE":
                reader["quote"] = str(val)
        elif key == "escape_unenclosed_field":
            if str(val).upper() == "NONE":
                reader["escape"] = "\u0000"  # disable escaping entirely
            else:
                reader["escape"] = str(val)
        elif key == "record_delimiter":
            reader["lineSep"] = str(val)
        elif key == "encoding":
            reader["encoding"] = str(val)
        else:
            raise ValueError(f"unmapped file_format option: {raw_key!r}")
    return reader, sentinels


def _truthy(val: Any) -> bool:
    return str(val).strip().lower() in ("true", "1", "yes")


#: a staged batch directory inside the table location
_STAGED = re.compile(r"_copy-v(\d+)-[0-9a-f]+")


def ledger(ledger_path: str, table: str) -> CommitLog:
    """The load history of ``table``. A missing log means nothing is loaded
    yet; a path it cannot commit on raises instead of reading as empty."""
    return CommitLog(os.path.join(ledger_path, table))


def _partition_spec(utils, rel: str) -> str:
    """``PARTITION (...)`` for a partition directory like ``d=2022-07-13``
    (the catalog casts each string value to its column's type)."""
    pairs = []
    for seg in rel.split("/"):
        key, val = map(utils.unescapePathName, seg.split("=", 1))
        esc = val.replace("\\", "\\\\").replace("'", "\\'")
        lit = "NULL" if val == utils.DEFAULT_PARTITION_NAME() else f"'{esc}'"
        pairs.append(f"{merge._quote(key)} = {lit}")
    return f"PARTITION ({', '.join(pairs)})"


def _land(spark, meta, staged: str) -> None:
    """Move a staged batch into the table: register its partitions, rename
    each file to the same relative path under the location, drop the
    emptied directory, refresh. Files an interrupted call already moved
    are no longer listed."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    root, fs = merge.table_fs(spark, meta)
    src = Path(root, staged)
    prefix, files, it = src.toUri().getPath() + "/", [], fs.listFiles(src, True)
    while it.hasNext():
        path = it.next().getPath()
        if not path.getName().startswith(("_", ".")):
            files.append(path.toUri().getPath()[len(prefix):])
    if parts := sorted({f.rpartition("/")[0] for f in files} - {""}):
        utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        specs = " ".join(_partition_spec(utils, rel) for rel in parts)
        spark.sql(f"ALTER TABLE {meta.name} ADD IF NOT EXISTS {specs}")
        for rel in parts:
            fs.mkdirs(Path(root, rel))
    for rel in files:
        if not fs.rename(Path(src, rel), Path(root, rel)):
            raise OSError(f"COPY into {meta.name}: cannot move {staged}/{rel}")
    fs.delete(src, True)
    spark.catalog.refreshTable(meta.name)


class CsvCopyTask(Task):
    """Bulk-load staged CSV files into a pre-created catalog table."""

    def __init__(
        self,
        task_id: str,
        table: str,
        stage_path: str,
        files: list[str],
        file_format: dict[str, Any] | str | None = None,
        schema: str | None = None,
        ledger_path: str | None = None,
        audit_column: str = "load_utc_ts",
        pipeline: Pipeline | None = None,
        **kw: Any,
    ) -> None:
        super().__init__(task_id, pipeline=pipeline, **kw)
        self.table = table
        self.stage_path = stage_path
        self.files = files
        if isinstance(file_format, str):  # verbatim Snowflake clause string
            file_format = parse_file_format_clause(file_format)
        self.file_format = dict(file_format or {})
        self.schema = schema
        self.ledger_path = ledger_path
        self.audit_column = audit_column
        self.loaded: list[str] = []   # per-run: files actually ingested
        self.skipped: list[str] = []  # per-run: ledger-deduped files

    def _qualified(self) -> str:
        return f"{self.schema}.{self.table}" if self.schema else self.table

    def _read(self, spark, meta, files: list[str], now):
        """The staged CSV files as rows of the target's schema."""
        from pyspark.sql import functions as F

        reader_opts, sentinels = map_file_format(self.file_format)
        data_cols = [f for f in meta.schema.fields if f.name != self.audit_column]
        read_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in data_cols)
        paths = [os.path.join(self.stage_path, n) for n in files]
        df = spark.read.schema(read_schema).options(**reader_opts).csv(paths)
        # Multi-valued NULL_IF post-map (Spark supports one nullValue; the
        # remaining sentinels nullify string columns here — non-string
        # columns already failed the typed parse into NULL).
        if sentinels:
            for f in data_cols:
                if f.dataType.simpleString() == "string":
                    df = df.withColumn(
                        f.name,
                        F.when(F.col(f.name).isin(sentinels), None).otherwise(
                            F.col(f.name)
                        ),
                    )
        if any(f.name == self.audit_column for f in meta.schema.fields):
            df = df.withColumn(
                self.audit_column,
                F.lit(now.isoformat(sep=" ")).cast("timestamp_ntz"),
            )
        return df

    def execute(self, ctx: RunContext) -> None:
        from bfs_etl_sep2025_spark.plans.locks import table_write_lock

        spark = ctx.spark
        if self.schema:
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.schema}")
        # Target must pre-exist (COPY INTO semantics: schema comes from the
        # table, never inferred from files).
        meta = merge.table_meta(spark, self._qualified())
        log = ledger(self.ledger_path, self._qualified()) if self.ledger_path else None
        names = [ctx.render(f) for f in self.files]
        Path = spark._jvm.org.apache.hadoop.fs.Path
        root, fs = merge.table_fs(spark, meta)
        with table_write_lock(self._qualified()):
            # roll committed batches forward, drop ones that cannot commit
            versions = log.versions() if log else []
            entries = [log.read(v) for v in versions]
            head = versions[-1] if versions else 0
            for st in fs.globStatus(Path(root, "_copy-v*")) or []:
                name = st.getPath().getName()
                m = _STAGED.fullmatch(name)
                if any(e["dir"] == name for e in entries):
                    _land(spark, meta, name)
                elif m and int(m.group(1)) <= head:
                    fs.delete(st.getPath(), True)
            already = {f for e in entries for f in e["files"]}
            todo = [n for n in names if n not in already]
            self.skipped = [n for n in names if n in already]
            self.loaded = []
            if not todo:
                return
            # with no ledger nothing commits: v0 is at or below any head, so
            # the next COPY deletes a batch this run leaves staged
            n = head + 1 if log else 0
            staged = f"_copy-v{n:05d}-{uuid.uuid4().hex[:8]}"
            now = ctx.clock()
            try:
                merge._write(
                    spark, meta, self._read(spark, meta, todo, now),
                    Path(root, staged).toString(),
                )
                if log:
                    log.append(n, {"files": todo, "loaded_at": now.isoformat(sep=" "), "dir": staged})
            except BaseException:
                fs.delete(Path(root, staged), True)
                raise
            _land(spark, meta, staged)
            # a batch staged for vN by a writer that died before linking can
            # never commit now that vN is taken
            for st in fs.globStatus(Path(root, f"_copy-v{n:05d}-*")) or []:
                fs.delete(st.getPath(), True)
            self.loaded = todo
