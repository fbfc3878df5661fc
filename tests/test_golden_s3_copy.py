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
from bfs_etl_sep2025_spark.sources import CsvCopyTask, map_file_format

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


def test_ledger_missing_path_is_empty_but_unreadable_raises(spark, tmp_path):
    """Only a ledger that does not exist yet means "nothing loaded"; a
    ledger that cannot be read must fail the COPY, not reload every file."""
    from bfs_etl_sep2025_spark.sources.ledger import LoadLedger

    assert LoadLedger(spark, str(tmp_path / "new")).loaded_files("t") == set()
    with pytest.raises(Exception, match="nosuchfs"):
        LoadLedger(spark, "nosuchfs://bucket/ledger").loaded_files("t")


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
