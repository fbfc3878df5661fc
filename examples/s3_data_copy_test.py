"""Port of /root/reference/dags/s3_data_copy_test.py — 4-day catchup
backfill of date-named staged CSVs into a pre-created table. The Jinja
filename template and the Snowflake FILE_FORMAT clause are VERBATIM
reference strings (the clause string is parsed natively); the S3 stage
becomes a path (s3a:// URI on a real cluster, local dir for the demo)."""

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))  # repo checkout; pip install replaces this

from datetime import datetime

from bfs_etl_sep2025_spark.plans import Pipeline
from bfs_etl_sep2025_spark.sources import CsvCopyTask

SCHEMA = "dev_db"
STAGE_PATH = "/tmp/s3_stage_trans_order"  # @s3_stage_trans_order equivalent
LEDGER = "/tmp/bfs_example_ledger"

with Pipeline(
    pipeline_id="s3_data_copy_test",
    start_date=datetime(2022, 7, 13),
    end_date=datetime(2022, 7, 16),
    schedule="0 7 * * *",
    tags=["dev"],
    catchup=True,
) as dag:
    copy_into_prestg = CsvCopyTask(
        task_id="prestg_product_order_trans",
        files=["product_order_trans_{{ ds[5:7]+ds[8:10]+ds[0:4] }}.csv"],
        table="prestg_product_order_trans",
        schema=SCHEMA,
        stage_path=STAGE_PATH,
        ledger_path=LEDGER,
        # verbatim reference clause (dags/s3_data_copy_test.py:38-40)
        file_format="""(type = 'CSV', field_delimiter = ',', SKIP_HEADER = 1 \
            NULL_IF =('NULL','null',''), empty_field_as_null = true, FIELD_OPTIONALLY_ENCLOSED_BY = '\"' \
            ESCAPE_UNENCLOSED_FIELD = NONE RECORD_DELIMITER = '\n')""",
    )

    copy_into_prestg


if __name__ == "__main__":
    import pathlib

    from bfs_etl_sep2025_spark.session import build_spark

    spark = build_spark()
    # demo staging: four dated CSVs + the pre-created target table
    stage = pathlib.Path(STAGE_PATH)
    stage.mkdir(exist_ok=True)
    for i, day in enumerate(["07132022", "07142022", "07152022", "07162022"]):
        (stage / f"product_order_trans_{day}.csv").write_text(
            "trans_id,product_id,customer_id,quantity,unit_price,trans_ts,channel\n"
            f"{i + 1},1,100,2,19.99,2022-{day[:2]}-{day[2:4]}T08:00:00,\"web, mobile\"\n"
            f"{i + 100},2,101,1,5.5,2022-{day[:2]}-{day[2:4]}T09:00:00,NULL\n"
        )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {SCHEMA}")
    # External LOCATION: the demo session uses an in-memory catalog, so a
    # re-run in a new process must re-register the table OVER the existing
    # data. The ledger, not the catalog, prevents double-loading: a batch
    # commits when its ledger entry is linked, and a batch committed by a
    # run that died is moved into the table by the next run.
    spark.sql(
        f"""CREATE TABLE IF NOT EXISTS {SCHEMA}.prestg_product_order_trans (
              trans_id BIGINT, product_id BIGINT, customer_id BIGINT,
              quantity INT, unit_price DOUBLE, trans_ts TIMESTAMP_NTZ,
              channel STRING, load_utc_ts TIMESTAMP_NTZ)
            USING parquet LOCATION '/tmp/bfs_example_prestg'"""
    )
    ran = dag.backfill(spark)
    n = spark.table(f"{SCHEMA}.prestg_product_order_trans").count()
    print(f"backfilled {len(ran)} runs; table has {n} rows")
