"""The benchmark's workloads.

Each workload writes its inputs with ``gen`` (before Spark starts), prepares
a session, runs one untimed warm-up that also checks outputs, then runs
passes of ops. A pass is the unit that repeats: one backfill-and-replay
cycle, or one arrival round. The engine is reached only through the
package's public functions and classes.
"""

from __future__ import annotations

import csv
import os
import shutil
import sys
import time
import traceback
from datetime import date, datetime, timedelta

import gen


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Workload:
    name = ""
    #: passes run even when --seconds has already elapsed
    min_passes = 1

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.failures: list[str] = []

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Preparation of a new session, before the warm-up."""

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark) -> list[tuple[str, float, bool]]:
        raise NotImplementedError

    def final_check(self, spark) -> None:
        """Checks that need the whole run's output; append to failures."""

    def layer_metrics(self, tracer, traced, listener, selfs) -> dict[str, float]:
        """Per traced pass: the time in each call span and each count."""
        n = len(traced)
        dur: dict[str, float] = {}
        for s in tracer.spans:
            if not s.name.startswith(("op:", "spark.job")):
                dur[s.name] = dur.get(s.name, 0.0) + s.duration
        out = {f"{k}_s": v / n for k, v in dur.items()}
        out.update({k: v / n for k, v in tracer.counts.items()})
        return out

    def timed(self, name: str, fn) -> tuple[str, float, bool]:
        """Run one op; an exception or a False return is a failed op."""
        with self.tracer.span(f"op:{name}"):
            t0 = time.perf_counter()
            try:
                ok = fn() is not False
            except Exception:  # a failed op is counted, not fatal
                _log(traceback.format_exc())
                ok = False
            dt = time.perf_counter() - t0
        return name, dt, ok


# -- etl_backfill -------------------------------------------------------------

FACT_COLS = "trans_id, product_id, customer_id, quantity, unit_price, trans_ts, channel, biz_date"


class EtlBackfill(Workload):
    """Catch-up backfill of daily CSVs through COPY INTO, MERGE, a templated
    rollup and a versioned-table upsert; then a replay of the same window
    that must load nothing; then time-travel reads of every version."""

    name = "etl_backfill"
    min_passes = 2
    days = 2
    rows_per_day = 10_000

    def generate(self) -> None:
        self.stage = os.path.join(self.work, "stage")
        self.dates = [date(2022, 7, 13) + timedelta(days=i) for i in range(self.days)]
        self.paths = gen.write_csv_days(self.seed, self.stage, self.dates, self.rows_per_day)
        self.input_rows = self.days * self.rows_per_day
        self.csv_bytes = sum(os.path.getsize(p) for p in self.paths)
        # expected state, recomputed from the files: later days win per key
        fact: dict[int, tuple] = {}
        self.rollup, self.version_rows = [], []
        for p in self.paths:
            with open(p, newline="") as f:
                rows = list(csv.DictReader(f))
            for r in rows:
                chan = None if r["channel"] in ("NULL", "null", "") else r["channel"]
                fact[int(r["trans_id"])] = (
                    int(r["trans_id"]), int(r["product_id"]), int(r["customer_id"]),
                    int(r["quantity"]), float(r["unit_price"]), chan, r["biz_date"])
            self.rollup.append((rows[0]["biz_date"], len(rows),
                                sum(int(r["quantity"]) for r in rows)))
            self.version_rows.append(len(fact))
        self.fact = sorted(fact.values())
        self.cycle = 0

    def _pipeline(self, spark, schema: str):
        from bfs_etl_sep2025_spark.plans import Pipeline, PythonTask, SqlTask
        from bfs_etl_sep2025_spark.plans.versioned import VersionedTable
        from bfs_etl_sep2025_spark.sources import CsvCopyTask

        tracer = self.tracer

        class TracedCopy(CsvCopyTask):
            def execute(self, ctx):
                with tracer.span("sources.csv_copy"):
                    super().execute(ctx)
                tracer.count("sources.files_loaded", len(self.loaded))
                tracer.count("sources.files_skipped", len(self.skipped))

        class TracedSql(SqlTask):
            def __init__(self, *a, span: str, **kw):
                super().__init__(*a, **kw)
                self.span_name = span

            def execute(self, ctx):
                with tracer.span(self.span_name):
                    super().execute(ctx)

        vt = VersionedTable(spark, os.path.join(self.work, f"versioned_{schema}"))
        ds = "DATE'{{ ds }}'"
        cols = [c.strip() for c in FACT_COLS.split(",")]
        sets = ", ".join(f"{c} = s.{c}" for c in cols[1:])
        merge = (
            f"MERGE INTO {schema}.fact_trans t USING ("
            f"SELECT {FACT_COLS} FROM (SELECT *, row_number() OVER ("
            f"PARTITION BY trans_id ORDER BY load_utc_ts DESC) AS rn "
            f"FROM {schema}.prestg_product_order_trans WHERE biz_date = {ds}) "
            f"WHERE rn = 1) s ON t.trans_id = s.trans_id "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({FACT_COLS}) "
            f"VALUES ({', '.join('s.' + c for c in cols)})"
        )
        rollup = (
            f"DELETE FROM {schema}.daily_rollup WHERE biz_date = {ds};\n"
            f"INSERT INTO {schema}.daily_rollup SELECT biz_date, count(*), "
            f"sum(quantity) FROM {schema}.fact_trans WHERE biz_date = {ds} "
            f"GROUP BY biz_date"
        )

        def upsert_day(spark, ds: str):
            if not copy.loaded:  # replay: the ledger skipped the file
                return
            day = spark.table(f"{schema}.prestg_product_order_trans") \
                .where(f"biz_date = DATE'{ds}'").selectExpr(*cols)
            with tracer.span("plans.versioned.upsert"):
                if vt.exists():
                    vt.upsert(day, keys=["trans_id"])
                else:
                    vt.create(day)
            tracer.count("plans.versioned.commits")

        with Pipeline(f"backfill_{schema}", schedule="0 7 * * *",
                      start_date=self.dates[0], end_date=self.dates[-1],
                      catchup=True, clock=lambda: datetime(2022, 7, 20, 7)) as p:
            copy = TracedCopy(
                "copy_into_prestg", table="prestg_product_order_trans",
                schema=schema, stage_path=self.stage,
                files=["product_order_trans_{{ ds[5:7] + ds[8:10] + ds[0:4] }}.csv"],
                file_format=gen.FILE_FORMAT,
                ledger_path=os.path.join(self.work, f"ledger_{schema}"))
            m = TracedSql("merge_fact", merge, span="plans.merge")
            r = TracedSql("daily_rollup", rollup, span="plans.tasks.sql")
            u = PythonTask("upsert_versioned", upsert_day, ds="{{ ds }}")
            copy >> [m, u]
            m >> r
        return p, copy, vt

    def _create(self, spark, schema: str) -> None:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
        spark.sql(f"CREATE TABLE {schema}.prestg_product_order_trans ("
                  "trans_id BIGINT, product_id BIGINT, customer_id BIGINT, "
                  "quantity INT, unit_price DOUBLE, trans_ts TIMESTAMP_NTZ, "
                  "channel STRING, biz_date DATE, load_utc_ts TIMESTAMP_NTZ) USING parquet")
        spark.sql(f"CREATE TABLE {schema}.fact_trans (trans_id BIGINT, "
                  "product_id BIGINT, customer_id BIGINT, quantity INT, "
                  "unit_price DOUBLE, trans_ts TIMESTAMP_NTZ, channel STRING, "
                  "biz_date DATE) USING parquet")
        spark.sql(f"CREATE TABLE {schema}.daily_rollup (biz_date DATE, "
                  "n_trans BIGINT, n_units BIGINT) USING parquet")

    def warmup(self, spark) -> None:
        """The loading ticks of a pass, run cold: the replays run the same
        SQL, so only the read-back is left cold."""
        bad = [name for name, _, ok in self.run_pass(spark, loads_only=True) if not ok]
        if bad:
            self.failures.append(f"warm-up ops failed: {bad}")

    def run_pass(self, spark, loads_only: bool = False):
        """A backfill of the window into fresh tables, its replay, then a
        read-back of every version. One op is one ``Pipeline.run``."""
        days = self.days
        schema = f"etl_c{self.cycle}"
        self.cycle += 1
        self._create(spark, schema)
        pipe, copy, vt = self._pipeline(spark, schema)
        self.last = (schema, vt)
        ticks = [datetime(d.year, d.month, d.day, 7) for d in self.dates]
        ops = []

        def tick(t, replay: bool, i: int):
            with self.tracer.span("plans.pipeline.run"):
                pipe.run(spark, run_date=t)
            if replay:
                return copy.loaded == [] and vt.current_version() == days
            return len(copy.loaded) == 1 and vt.current_version() == i + 1

        for i, t in enumerate(ticks):
            ops.append(self.timed("load", lambda t=t, i=i: tick(t, False, i)))
        if loads_only:
            return ops
        for i, t in enumerate(ticks):
            ops.append(self.timed("replay", lambda t=t, i=i: tick(t, True, i)))
        try:
            with self.tracer.span("plans.versioned.read"):
                counts = [vt.read(v).count() for v in range(1, days + 1)]
            with self.tracer.span("plans.versioned.changes"):
                n_changes = [vt.changes(v - 1, v).count() for v in range(2, days + 1)]
            with self.tracer.span("plans.versioned.history"):
                hist = vt.history()
            ok = (counts == self.version_rows and len(hist) == days
                  and all(n > 0 for n in n_changes))
        except Exception:  # counted as a failure, not fatal
            _log(traceback.format_exc())
            ok = False
        if not ok:
            self.failures.append(f"{schema}: a committed version reads back wrong")
        return ops

    def final_check(self, spark) -> None:
        schema, vt = self.last
        fact = sorted(
            (r.trans_id, r.product_id, r.customer_id, r.quantity, r.unit_price,
             r.channel, r.biz_date.isoformat())
            for r in spark.table(f"{schema}.fact_trans").collect())
        if fact != self.fact:
            self.failures.append("fact table differs from the CSV recomputation")
        rollup = sorted((r[0].isoformat(), r[1], r[2])
                        for r in spark.table(f"{schema}.daily_rollup").collect())
        if rollup != self.rollup:
            self.failures.append("daily rollup differs from the recomputation")
        n = spark.table(f"{schema}.prestg_product_order_trans").count()
        if n != self.input_rows:
            self.failures.append(f"staging holds {n} rows, files hold {self.input_rows}")
        if vt.read().count() != len(self.fact):
            self.failures.append("versioned table differs from the fact table")

    def rows_loaded(self, passes) -> int:
        return sum(1 for p in passes for name, _, _ in p[3] if name == "load") \
            * self.rows_per_day

    def layer_metrics(self, tracer, traced, listener, selfs):
        out = super().layer_metrics(tracer, traced, listener, selfs)
        out["plans.pipeline.overhead_s"] = selfs.get("plans.pipeline.run", 0.0) / len(traced)
        # a loading MERGE changes one day's rows and rewrites the whole
        # fact table; a replaying one rewrites it and changes nothing
        changed = self.rows_per_day * self.days
        rewritten = 2 * sum(self.version_rows)
        out["plans.merge.useful_ratio"] = changed / rewritten
        schema, vt = self.last
        roots = [vt.root, os.path.join(self.work, f"ledger_{schema}"),
                 os.path.join(self.work, "warehouse", f"{schema}.db")]
        out["plans.storage.bytes_per_input_byte"] = \
            sum(_dir_bytes(r) for r in roots) / self.csv_bytes
        return out


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


# -- incremental_arrivals -----------------------------------------------------

class IncrementalArrivals(Workload):
    """Rounds of landing an events file and a documents batch, each drained
    through two availableNow streams with persistent checkpoints and
    deduplicated against a persistent signature store."""

    name = "incremental_arrivals"
    rounds_per_pass = 1
    #: one warm-up round and up to eleven passes
    max_rounds = 12
    #: a round lands a tenth of the sf0.1 fixture's events and documents
    n_events = 10_000
    n_docs = 500
    users = 1000

    def generate(self) -> None:
        self.staged = os.path.join(self.work, "staged")
        self.ev_dir = os.path.join(self.work, "landing", "events")
        self.doc_dir = os.path.join(self.work, "landing", "docs")
        os.makedirs(self.ev_dir)
        os.makedirs(self.doc_dir)
        self.batches = [
            gen.write_arrival(self.seed, k, os.path.join(self.staged, "events"),
                              os.path.join(self.staged, "docs"), self.n_events,
                              self.n_docs, self.users)
            for k in range(self.max_rounds)
        ]
        self.round = 0
        self.profiles: dict[int, tuple] = {}
        self.windows: list[tuple] = []
        self.verdicts: list[tuple] = []

    def prepare(self, spark) -> None:
        # typed state variables need the RocksDB state store
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                       "org.apache.spark.sql.execution.streaming.state."
                       "RocksDBStateStoreProvider")
        from bfs_etl_sep2025_spark.plans.versioned import VersionedTable

        self.store = VersionedTable(spark, os.path.join(self.work, "sig_store"))

    def _round(self, spark) -> bool:
        from pyspark.sql import functions as F

        from bfs_etl_sep2025_spark.operators.incremental import commit_pending, sync_batch
        from bfs_etl_sep2025_spark.streaming.jobs import (
            run_stream_collect,
            stream_events,
            stream_user_profile_tws,
            stream_windowed_counts,
        )

        ev, dc = self.batches[self.round]
        ev_dst = os.path.join(self.ev_dir, os.path.basename(ev))
        doc_dst = os.path.join(self.doc_dir, os.path.basename(dc))
        shutil.copyfile(ev, ev_dst + ".tmp")
        os.replace(ev_dst + ".tmp", ev_dst)
        shutil.copyfile(dc, doc_dst)
        self.round += 1
        ckpt = os.path.join(self.work, "checkpoints")
        with self.tracer.span("streaming.round.profile"):
            out = run_stream_collect(
                stream_user_profile_tws(stream_events(spark, self.ev_dir)),
                os.path.join(ckpt, "profile"), output_mode="update")
        for _, rows in out:
            for r in rows:
                prev = self.profiles.get(r.user_id)
                if prev is None or r.n_events > prev[0]:
                    self.profiles[r.user_id] = (r.n_events, r.n_types, r.top_type)
        with self.tracer.span("streaming.round.windowed_counts"):
            out = run_stream_collect(
                stream_windowed_counts(stream_events(spark, self.ev_dir)),
                os.path.join(ckpt, "windows"), output_mode="append")
        self.windows.extend((r.window_start, r.event_type, r.n_events)
                            for _, rows in out for r in rows)
        pending: list = []
        docs = spark.read.parquet(doc_dst).select("doc_id", "text")
        with self.tracer.span("incremental.sync_batch"):
            v = sync_batch(spark, docs, self.store, pending=pending)
            rows = v.orderBy(F.col("doc_id")).collect()
        self.verdicts.extend(tuple(r) for r in rows)
        with self.tracer.span("incremental.commit"):
            commit_pending(self.store, pending, keys=["doc_id"])
        return len(rows) == self.n_docs

    def warmup(self, spark) -> None:
        if not self.timed("round", lambda: self._round(spark))[2]:
            self.failures.append("warm-up round failed")

    def run_pass(self, spark):
        n = min(self.rounds_per_pass, self.max_rounds - self.round)
        return [self.timed("round", lambda: self._round(spark)) for _ in range(n)]

    def final_check(self, spark) -> None:
        import duckdb

        from bfs_etl_sep2025_spark import registry

        specs = registry.all_specs()
        con = duckdb.connect()
        con.execute("CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{self.ev_dir}/*.parquet')")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.doc_dir}/*.parquet')")
        want = {r[0]: (r[1], r[2], r[3]) for r in
                con.execute(specs["stream_typed_state_profile"].oracle).fetchall()}
        if want != self.profiles:
            self.failures.append("stream profiles differ from the batch oracle")
        verdicts = {r[0]: tuple(r[1:]) for r in
                    con.execute(specs["dedup_incremental_minhash"].oracle).fetchall()}
        got = {r[0]: tuple(r[1:]) for r in self.verdicts}
        if got != verdicts:
            self.failures.append("dedup verdicts differ from the batch oracle")
        counts = {(r[0], r[1]): r[2] for r in con.execute(
            "SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS w, event_type, count(*) "
            "FROM events GROUP BY ALL").fetchall()}
        if any(counts.get((w.replace(tzinfo=None), t)) != n for w, t, n in self.windows):
            self.failures.append("windowed counts differ from a batch count")
        con.close()

    def rows_loaded(self, passes) -> int:
        return sum(len(p[3]) for p in passes) * (self.n_events + self.n_docs)

    def layer_metrics(self, tracer, traced, listener, selfs):
        out = super().layer_metrics(tracer, traced, listener, selfs)
        n = len(traced)
        recs = listener.records

        def phase(key: str) -> float:
            return sum(r["duration_ms"].get(key, 0) for r in recs) / 1000.0 / n

        out["streaming.batches"] = len(recs) / n
        out["streaming.trigger_s"] = phase("triggerExecution")
        out["streaming.add_batch_s"] = phase("addBatch")
        out["streaming.query_planning_s"] = phase("queryPlanning")
        out["streaming.wal_commit_s"] = phase("walCommit")
        out["streaming.commit_offsets_s"] = phase("commitOffsets")
        out["streaming.state_commit_s"] = sum(r["state_commit_ms"] for r in recs) / 1000.0 / n
        out["streaming.start_s"] = (out.get("streaming.round.profile_s", 0.0)
                                    + out.get("streaming.round.windowed_counts_s", 0.0)
                                    - out["streaming.trigger_s"])
        if recs:
            out["streaming.state_rows"] = max(r["state_rows"] for r in recs)
            out["streaming.state_mb"] = max(r["state_bytes"] for r in recs) / 2**20
        out["incremental.store_versions"] = self.store.current_version()
        out["incremental.store_mb"] = _dir_bytes(self.store.root) / 2**20
        return out


#: The workloads BENCHMARK.json lists, in its order.
WORKLOADS = {w.name: w for w in (EtlBackfill, IncrementalArrivals)}
