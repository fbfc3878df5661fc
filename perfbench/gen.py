"""Seeded input generator for the benchmark.

Everything the engine reads in a benchmark run comes from here, and the same
seed always gives byte-identical files:

- ``write_csv_days``: the daily ``product_order_trans_MMDDYYYY.csv`` files of
  the ``etl_backfill`` workload, in the COPY INTO file format of the
  reference DAG (header row, ``"``-quoted fields with embedded commas, and the
  ``NULL`` / ``null`` / empty null sentinels);
- ``write_arrival``: one round of ``incremental_arrivals`` input, an events
  parquet file and a documents batch with ids above every earlier round.

Run ``python3 perfbench/gen.py --seed 7 --out DIR`` to write one full set.
"""

from __future__ import annotations

import argparse
import hashlib
import os
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

#: Reference COPY INTO file format (``dags/s3_data_copy_test.py:38-40``).
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
CSV_HEADER = "trans_id,product_id,customer_id,quantity,unit_price,trans_ts,channel,biz_date"
CHANNELS = ['"web, mobile"', '"in;store"', "NULL", "null", "", "web", "phone"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream), so adding a stream never
    shifts the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _texts(rng: np.random.Generator, n: int, dup_every: int = 12) -> list[str]:
    """Space-separated token documents; every ``dup_every``-th document is a
    near copy of an earlier one (one token changed), so the dedup operators
    find real pairs."""
    out: list[str] = []
    lens = rng.integers(10, 101, n)
    for i in range(n):
        if i >= dup_every and i % dup_every == 0:
            toks = out[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
            out.append(" ".join(toks))
        else:
            out.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), lens[i])))
    return out


def events(seed: int, stream: str, first_id: int, n: int, users: int,
           start: datetime = datetime(2024, 1, 1), span_s: int = 30 * 86400) -> pa.Table:
    """``n`` events with ids ``first_id..``, microsecond timestamps sorted
    inside ``[start, start + span_s)``."""
    r = _rng(seed, stream)
    base = np.datetime64(start.isoformat(), "us")
    ts = np.sort(base + r.integers(0, span_s * 1_000_000, n).astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.exponential(40.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def documents(seed: int, stream: str, first_id: int, n: int) -> pa.Table:
    r = _rng(seed, stream)
    texts = _texts(r, n)
    return pa.table({
        "doc_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, 5, n)],
        "source": [f"src{i}" for i in r.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def csv_name(day: date) -> str:
    """The reference's ``{{ ds[5:7]+ds[8:10]+ds[0:4] }}`` file name."""
    return f"product_order_trans_{day:%m%d%Y}.csv"


def csv_day(seed: int, day_index: int, day: date, rows: int) -> str:
    """One day's CSV. Keys are unique within a day; a quarter of each day's
    rows after the first re-send earlier days' keys with new values, so the
    MERGE both updates and inserts."""
    r = _rng(seed, f"csv:{day_index}")
    fresh = np.arange(day_index * rows, day_index * rows + rows, dtype=np.int64)
    if day_index:
        n_old = rows // 4
        old = r.choice(day_index * rows, n_old, replace=False).astype(np.int64)
        ids = np.concatenate([old, fresh[: rows - n_old]])
    else:
        ids = fresh
    lines = [CSV_HEADER]
    prod = r.integers(0, 2000, rows)
    cust = r.integers(0, 1500, rows)
    qty = r.integers(1, 50, rows)
    price = np.round(r.uniform(1, 500, rows), 2)
    secs = r.integers(0, 86400, rows)
    chan = r.integers(0, len(CHANNELS), rows)
    for i in range(rows):
        ts = datetime(day.year, day.month, day.day) + timedelta(seconds=int(secs[i]))
        lines.append(
            f"{ids[i]},{prod[i]},{cust[i]},{qty[i]},{price[i]:.2f},"
            f"{ts:%Y-%m-%dT%H:%M:%S},{CHANNELS[chan[i]]},{day.isoformat()}"
        )
    return "\n".join(lines) + "\n"


def write_csv_days(seed: int, stage_dir: str, days: list[date], rows: int) -> list[str]:
    """Write one CSV per logical date into ``stage_dir``; returns the paths."""
    os.makedirs(stage_dir, exist_ok=True)
    paths = []
    for i, d in enumerate(days):
        p = os.path.join(stage_dir, csv_name(d))
        with open(p, "w", newline="") as f:
            f.write(csv_day(seed, i, d, rows))
        paths.append(p)
    return paths


def write_arrival(seed: int, round_no: int, events_dir: str, docs_dir: str,
                  n_events: int, n_docs: int, users: int) -> tuple[str, str]:
    """Land round ``round_no``: one events file (ids and timestamps after
    every earlier round) and one documents batch (ids likewise)."""
    os.makedirs(events_dir, exist_ok=True)
    os.makedirs(docs_dir, exist_ok=True)
    start = datetime(2024, 1, 1) + timedelta(hours=6 * round_no)
    ev = events(seed, f"arrive-ev:{round_no}", round_no * n_events, n_events,
                users, start=start, span_s=6 * 3600)
    dc = documents(seed, f"arrive-doc:{round_no}", round_no * n_docs, n_docs)
    if round_no:
        # every 10th document re-sends one from the previous round, so the
        # dedup store also finds duplicates across rounds
        prev = documents(seed, f"arrive-doc:{round_no - 1}", 0, n_docs)["text"]
        texts = dc["text"].to_pylist()
        for i in range(0, n_docs, 10):
            texts[i] = prev[(i * 7) % n_docs].as_py()
        dc = dc.set_column(1, "text", pa.array(texts)).set_column(
            4, "n_chars", pa.array([len(t) for t in texts], pa.int64()))
    ev_path = os.path.join(events_dir, f"events-{round_no:05d}.parquet")
    dc_path = os.path.join(docs_dir, f"docs-{round_no:05d}.parquet")
    _write(ev, ev_path)
    _write(dc, dc_path)
    return ev_path, dc_path


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    days = [date(2022, 7, 13) + timedelta(days=i) for i in range(4)]
    write_csv_days(args.seed, os.path.join(args.out, "stage"), days, 500)
    for k in range(3):
        write_arrival(args.seed, k, os.path.join(args.out, "events"),
                      os.path.join(args.out, "docs"), 1000, 100, 200)
    print(tree_digest(args.out))


if __name__ == "__main__":
    main()
