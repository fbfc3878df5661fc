"""Golden end-to-end clone of the reference's ``s3_data_copy_test`` DAG
(/root/reference/dags/s3_data_copy_test.py): 4-day catchup backfill of
date-named CSVs from a stage directory into a pre-created table, exercising
every FILE_FORMAT option the reference sets (:38-40), the multi-valued
NULL_IF gap, and COPY-INTO load-history idempotence via the ledger.
"""

from __future__ import annotations

from datetime import date, datetime

import pytest

from bfs_etl_sep2025_spark.plans import Pipeline
from bfs_etl_sep2025_spark.sources import CsvCopyTask, ledger, map_file_format

FROZEN = datetime(2022, 7, 20, 7, 0, 0)

# Reference FILE_FORMAT, option for option (dags/s3_data_copy_test.py:38-40).
FILE_FORMAT = {
    "type": "CSV",
    "field_delimiter": ",",
    "skip_header": 1,
    "null_if": ["NULL", "null"],
    "empty_field_as_null": True,
    "field_optionally_enclosed_by": '"',
    "escape_unenclosed_field": "NONE",
    "record_delimiter": "\n",
}

# Per-day synthetic rows (FIXTURES.md §B): seed-deterministic, dialect-
# exercising: quoted comma, quoted semicolon, all three null sentinels.
DAYS = ["07132022", "07142022", "07152022", "07162022"]
ROWS_PER_DAY = {d: 5 + i for i, d in enumerate(DAYS)}


def _csv_body(day: str) -> str:
    n = ROWS_PER_DAY[day]
    lines = ["trans_id,product_id,customer_id,quantity,unit_price,trans_ts,channel"]
    for i in range(n):
        tid = int(day[4:]) * 1000 + int(day[0:2]) * 100 + int(day[2:4]) * 10 + i
        channel = {
            0: '"web, mobile"',   # quoted comma
            1: '"in;store"',      # quoted semicolon
            2: "NULL",            # sentinel 1
            3: "null",            # sentinel 2
            4: "",                # empty -> null
        }.get(i % 5, "web")
        lines.append(
            f"{tid},{i + 1},{100 + i},{i + 2},{10.5 + i},"
            f"2022-{day[0:2]}-{day[2:4]}T0{i % 10}:00:00,{channel}"
        )
    return "\n".join(lines) + "\n"


@pytest.fixture(scope="module")
def stage(tmp_path_factory):
    d = tmp_path_factory.mktemp("s3_stage_trans_order")
    for day in DAYS:
        (d / f"product_order_trans_{day}.csv").write_text(_csv_body(day))
    return d


@pytest.fixture(scope="module")
def pipeline(spark, stage, tmp_path_factory):
    ledger = str(tmp_path_factory.mktemp("ledger") / "ingest_ledger")
    spark.sql("CREATE DATABASE IF NOT EXISTS dev_db")
    spark.sql("DROP TABLE IF EXISTS dev_db.prestg_product_order_trans")
    spark.sql(
        """
        CREATE TABLE dev_db.prestg_product_order_trans (
          trans_id BIGINT, product_id BIGINT, customer_id BIGINT,
          quantity INT, unit_price DOUBLE, trans_ts TIMESTAMP_NTZ,
          channel STRING, load_utc_ts TIMESTAMP_NTZ
        ) USING parquet
        """
    )
    with Pipeline(
        "s3_data_copy_clone",
        schedule="0 7 * * *",                      # ref :26
        start_date=date(2022, 7, 13),              # ref :24
        end_date=datetime(2022, 7, 16, 23, 59),    # ref :25
        catchup=True,                              # ref :29
        clock=lambda: FROZEN,
    ) as p:
        CsvCopyTask(
            "prestg_product_order_trans",          # ref task id :33
            table="prestg_product_order_trans",
            schema="dev_db",
            stage_path=str(stage),
            # exact reference template string (ref :34)
            files=["product_order_trans_{{ ds[5:7] + ds[8:10] + ds[0:4] }}.csv"],
            file_format=FILE_FORMAT,
            ledger_path=ledger,
        )
    return p


@pytest.fixture(scope="module")
def backfilled(spark, pipeline):
    ran = pipeline.backfill(spark)
    return ran


def test_backfill_four_runs(backfilled):
    assert len(backfilled) == 4


def test_total_and_per_day_counts(spark, backfilled):
    df = spark.table("dev_db.prestg_product_order_trans")
    assert df.count() == sum(ROWS_PER_DAY.values())
    from pyspark.sql import functions as F

    per_day = {
        r.d.isoformat(): r.n
        for r in df.groupBy(F.to_date("trans_ts").alias("d"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_day == {
        "2022-07-13": 5,
        "2022-07-14": 6,
        "2022-07-15": 7,
        "2022-07-16": 8,
    }


def test_null_sentinels_mapped(spark, backfilled):
    from pyspark.sql import functions as F

    df = spark.table("dev_db.prestg_product_order_trans")
    # rows i%5 in {2,3,4} carry NULL/null/'' -> all must be real NULLs
    n_null = df.filter(F.col("channel").isNull()).count()
    expected = sum(
        sum(1 for i in range(n) if i % 5 in (2, 3, 4)) for n in ROWS_PER_DAY.values()
    )
    assert n_null == expected
    # and the quoted comma survived as one field (i%5==0 rows: 1+2+2+2)
    n_comma = sum(
        sum(1 for i in range(n) if i % 5 == 0) for n in ROWS_PER_DAY.values()
    )
    assert df.filter(F.col("channel") == "web, mobile").count() == n_comma


def test_audit_column_from_clock(spark, backfilled):
    from pyspark.sql import functions as F

    df = spark.table("dev_db.prestg_product_order_trans")
    assert df.filter(F.col("load_utc_ts") != F.lit(FROZEN)).count() == 0


def test_rerun_is_idempotent(spark, pipeline, backfilled):
    """COPY-INTO load-history semantics: catchup re-run loads nothing."""
    before = spark.table("dev_db.prestg_product_order_trans").count()
    pipeline.backfill(spark)  # full re-run
    task = pipeline.tasks["prestg_product_order_trans"]
    assert task.loaded == []
    assert len(task.skipped) == 1
    assert spark.table("dev_db.prestg_product_order_trans").count() == before


def test_ledger_missing_path_is_empty_but_unreadable_raises(spark, stage, tmp_path):
    """Only a ledger that does not exist yet means "nothing loaded"; a
    ledger that cannot be read must fail the COPY, not reload every file."""
    assert ledger(str(tmp_path / "new"), "t").entries() == []
    with pytest.raises(ValueError, match="nosuchfs"):
        ledger("nosuchfs://bucket/ledger", "t")
    _target(spark, "dev_db.prestg_bad_ledger")
    with pytest.raises(ValueError, match="nosuchfs"):
        _copy(spark, stage, "prestg_bad_ledger", "nosuchfs://bucket/ledger")
    assert spark.table("dev_db.prestg_bad_ledger").count() == 0


def _target(spark, name: str, cols: str = "", tail: str = ""):
    """A COPY target shaped like the reference's prestg table, with extra
    ``cols`` and a ``tail`` after ``USING parquet``."""
    spark.sql("CREATE DATABASE IF NOT EXISTS dev_db")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"""CREATE TABLE {name} (
              trans_id BIGINT, product_id BIGINT, customer_id BIGINT,
              quantity INT, unit_price DOUBLE, trans_ts TIMESTAMP_NTZ,
              channel STRING, load_utc_ts TIMESTAMP_NTZ{cols}
            ) USING parquet{tail}"""
    )


def _copy(spark, stage, table, ledger_path, files=("product_order_trans_{{ ds[5:7] + ds[8:10] + ds[0:4] }}.csv",),
          clock=lambda: FROZEN, run_date=datetime(2022, 7, 13, 7)):
    """Run one COPY of ``files`` into ``dev_db.<table>`` and return the task."""
    with Pipeline("copy_once", schedule="0 7 * * *", start_date=date(2022, 7, 13),
                  clock=clock) as p:
        task = CsvCopyTask("copy", table=table, schema="dev_db", stage_path=str(stage),
                           files=list(files), file_format=FILE_FORMAT,
                           ledger_path=ledger_path)
    p.run(spark, run_date=run_date)
    return task


def test_ledger_round_trips_as_a_log(spark, stage, tmp_path):
    """Each COPY links one ledger entry per target table: file names with
    quotes and the exact microsecond load time come back as written, the
    two tables keep separate logs, and a replay starts no Spark job."""
    import shutil

    at = datetime(2022, 7, 13, 7, 5, 9, 123456)
    files = ["it's.csv", 'say "hi".csv', "plain.csv"]
    for name in files:
        shutil.copyfile(stage / "product_order_trans_07132022.csv", tmp_path / name)
    path = str(tmp_path / "ledger")
    for table, names in (("ledger_t", files), ("ledger_other", files[2:])):
        _target(spark, f"dev_db.{table}")
        assert _copy(spark, tmp_path, table, path, names, clock=lambda: at).loaded == names
    assert ledger(path, "dev_db.ledger_t").entries() == [
        {"files": files, "loaded_at": "2022-07-13 07:05:09.123456",
         "dir": ledger(path, "dev_db.ledger_t").read(1)["dir"]}
    ]
    other = ledger(path, "dev_db.ledger_other").entries()
    assert [e["files"] for e in other] == [["plain.csv"]]
    assert datetime.fromisoformat(other[0]["loaded_at"]) == at
    assert {r.load_utc_ts for r in spark.table("dev_db.ledger_t").collect()} == {at}
    assert ledger(path, "dev_db.none").entries() == []

    sc = spark.sparkContext
    sc.setJobGroup("copy_replay", "replayed COPY")
    try:
        replay = _copy(spark, tmp_path, "ledger_t", path, files)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert replay.loaded == [] and replay.skipped == files
    assert list(sc.statusTracker().getJobIdsForGroup("copy_replay")) == []
    assert spark.table("dev_db.ledger_t").count() == 3 * ROWS_PER_DAY["07132022"]


def test_partitioned_target_registers_partitions(spark, tmp_path):
    """A ``PARTITIONED BY (biz_date)`` target: each day lands in its own
    partition, SHOW PARTITIONS lists both, and a catch-up re-run loads
    nothing."""
    header = "trans_id,product_id,customer_id,quantity,unit_price,trans_ts,channel,biz_date"
    for day, ids in (("07132022", (1, 2)), ("07142022", (3, 4, 5))):
        iso = f"2022-{day[:2]}-{day[2:4]}"
        rows = [f"{i},{i},{i},1,1.5,{iso}T08:00:00,web,{iso}" for i in ids]
        (tmp_path / f"product_order_trans_{day}.csv").write_text(
            "\n".join([header, *rows]) + "\n"
        )
    _target(spark, "dev_db.prestg_by_day", ", biz_date DATE", " PARTITIONED BY (biz_date)")
    path = str(tmp_path / "ledger")
    with Pipeline("copy_by_day", schedule="0 7 * * *", start_date=date(2022, 7, 13),
                  end_date=datetime(2022, 7, 14, 23, 59), catchup=True,
                  clock=lambda: FROZEN) as p:
        task = CsvCopyTask(
            "copy", table="prestg_by_day", schema="dev_db", stage_path=str(tmp_path),
            files=["product_order_trans_{{ ds[5:7] + ds[8:10] + ds[0:4] }}.csv"],
            file_format=FILE_FORMAT, ledger_path=path)
    p.backfill(spark)
    assert task.loaded == ["product_order_trans_07142022.csv"]
    parts = [r[0] for r in spark.sql("SHOW PARTITIONS dev_db.prestg_by_day").collect()]
    assert parts == ["biz_date=2022-07-13", "biz_date=2022-07-14"]
    df = spark.table("dev_db.prestg_by_day")
    assert sorted((r.trans_id, r.biz_date.isoformat()) for r in df.collect()) == [
        (1, "2022-07-13"), (2, "2022-07-13"),
        (3, "2022-07-14"), (4, "2022-07-14"), (5, "2022-07-14"),
    ]
    p.backfill(spark)
    assert task.loaded == [] and task.skipped == ["product_order_trans_07142022.csv"]
    assert df.count() == 5
    assert len(ledger(path, "dev_db.prestg_by_day").versions()) == 2


# -- crash safety: a COPY killed at any point loads each file exactly once ---
#
# The child is a separate process with its own Spark session and catalog,
# so the target is an external table both sessions register over one
# location. Module-level so multiprocessing's spawn can pickle it (spawn,
# not fork: the parent holds a live JVM).


def _crash_copy(stage, ledger_path, location, warehouse, point) -> None:
    """Spawned child: COPY both days and die at ``point`` with no cleanup
    (``os._exit`` skips ``finally`` blocks and atexit)."""
    import os

    from bfs_etl_sep2025_spark.plans import commitlog, merge
    from bfs_etl_sep2025_spark.session import build_spark

    spark = build_spark(app_name="copy-crash", shuffle_partitions=2, extra_conf={
        "spark.sql.warehouse.dir": warehouse,
        # split each small CSV so the batch lands as several files
        "spark.sql.files.maxPartitionBytes": "256",
    })
    _target(spark, "dev_db.prestg_crash", tail=f" LOCATION '{location}'")
    append = commitlog.CommitLog.append
    if point == "after_staged_write":  # the link is the next step
        commitlog.CommitLog.append = lambda self, n, entry: os._exit(17)
    elif point == "after_ledger_link":
        def die_after_link(self, n, entry):
            append(self, n, entry)
            os._exit(17)

        commitlog.CommitLog.append = die_after_link
    else:
        table_fs = merge.table_fs

        class DieAfterRename:
            def __init__(self, fs):
                self.fs = fs

            def __getattr__(self, name):
                return getattr(self.fs, name)

            def rename(self, src, dst):
                self.fs.rename(src, dst)
                os._exit(17)

        merge.table_fs = lambda s, meta: (table_fs(s, meta)[0], DieAfterRename(table_fs(s, meta)[1]))
    _copy(spark, stage, "prestg_crash", ledger_path, _BOTH_DAYS)
    os._exit(0)  # not reached


_BOTH_DAYS = ("product_order_trans_07132022.csv", "product_order_trans_07142022.csv")


@pytest.mark.parametrize(
    "point", ["after_staged_write", "after_ledger_link", "after_first_rename"]
)
def test_crashed_copy_rolls_forward_exactly_once(spark, stage, tmp_path, point):
    import multiprocessing as mp
    import os

    location, path = str(tmp_path / "prestg"), str(tmp_path / "ledger")
    _target(spark, "dev_db.prestg_crash", tail=f" LOCATION '{location}'")
    _copy(spark, stage, "prestg_crash", path, _BOTH_DAYS[:1])
    old = ROWS_PER_DAY["07132022"]
    child = mp.get_context("spawn").Process(
        target=_crash_copy,
        args=(stage, path, location, str(tmp_path / "wh"), point),
    )
    child.start()
    child.join(timeout=300)
    assert child.exitcode == 17

    def staged() -> list[str]:
        return [d for d in os.listdir(location) if d.startswith("_copy-")]

    assert staged(), "the crashed batch is still staged"
    spark.catalog.refreshTable("dev_db.prestg_crash")
    seen = spark.table("dev_db.prestg_crash").count()
    if point == "after_first_rename":  # the documented partial batch
        assert old < seen < old + ROWS_PER_DAY["07142022"]
    else:
        assert seen == old
    task = _copy(spark, stage, "prestg_crash", path, _BOTH_DAYS)
    if point == "after_staged_write":
        assert task.loaded == list(_BOTH_DAYS[1:])
    else:
        assert task.loaded == []
    assert task.skipped == [f for f in _BOTH_DAYS if f not in task.loaded]
    df = spark.table("dev_db.prestg_crash")
    assert df.count() == old + ROWS_PER_DAY["07142022"]
    assert df.select("trans_id").distinct().count() == df.count()
    assert staged() == []
    assert len(ledger(path, "dev_db.prestg_crash").versions()) == 2


def test_option_map_coverage():
    reader, sentinels = map_file_format(FILE_FORMAT)
    assert reader["sep"] == ","
    assert reader["header"] is True
    assert reader["nullValue"] == "NULL"
    assert reader["quote"] == '"'
    assert reader["escape"] == "\u0000"
    assert reader["lineSep"] == "\n"
    assert sentinels == ["null", ""]


def test_option_map_rejects_unknown():
    with pytest.raises(ValueError, match="unmapped"):
        map_file_format({"bogus_option": 1})


def test_mid_schema_audit_column_lands_by_name(spark, stage, tmp_path_factory):
    """insertInto is positional: a target that declares load_utc_ts in the
    MIDDLE of its schema must still get every value in the right column
    (the task reorders to the target schema before writing — ADVICE r01)."""
    from pyspark.sql import functions as F

    ledger = str(tmp_path_factory.mktemp("ledger_mid") / "ingest_ledger")
    spark.sql("CREATE DATABASE IF NOT EXISTS dev_db")
    spark.sql("DROP TABLE IF EXISTS dev_db.prestg_trans_mid_audit")
    spark.sql(
        """
        CREATE TABLE dev_db.prestg_trans_mid_audit (
          trans_id BIGINT, product_id BIGINT, customer_id BIGINT,
          load_utc_ts TIMESTAMP_NTZ,            -- audit col mid-schema
          quantity INT, unit_price DOUBLE, trans_ts TIMESTAMP_NTZ,
          channel STRING
        ) USING parquet
        """
    )
    with Pipeline(
        "s3_mid_audit",
        schedule="0 7 * * *",
        start_date=date(2022, 7, 13),
        end_date=datetime(2022, 7, 13, 23, 59),
        catchup=True,
        clock=lambda: FROZEN,
    ) as p:
        CsvCopyTask(
            "prestg_trans_mid_audit",
            table="prestg_trans_mid_audit",
            schema="dev_db",
            stage_path=str(stage),
            files=["product_order_trans_{{ ds[5:7] + ds[8:10] + ds[0:4] }}.csv"],
            file_format=FILE_FORMAT,
            ledger_path=ledger,
        )
    p.backfill(spark)
    df = spark.table("dev_db.prestg_trans_mid_audit")
    assert df.count() == ROWS_PER_DAY["07132022"]
    assert df.filter(F.col("load_utc_ts") != F.lit(FROZEN)).count() == 0
    # typed columns carry data, not shifted neighbors
    assert df.filter(F.col("quantity").isNull()).count() == 0
    assert df.filter(F.col("trans_ts").isNull()).count() == 0
