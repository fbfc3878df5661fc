"""Tests of the benchmark's own logic: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
from harness import (  # noqa: E402
    Span,
    self_times,
    tail,
    tail_level,
    tree_cpu_s,
    union_length,
)

HERE = os.path.dirname(os.path.abspath(__file__))
BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


# -- percentiles ----------------------------------------------------------------

def test_tail_level_leaves_ten_samples_beyond():
    assert tail_level(9) is None
    assert tail_level(19) is None
    assert tail_level(20) == 50.0
    assert tail_level(40) == 75.0
    assert tail_level(100) == 90.0
    assert tail_level(200) == 95.0
    assert tail_level(1000) == 99.0
    for n in range(20, 2000, 37):
        pct = tail_level(n)
        _, beyond = tail(list(range(n)), pct)
        assert beyond >= 10
        higher = [p for p in (99.9, 99.0, 95.0, 90.0, 75.0) if p > pct]
        assert all(tail(list(range(n)), p)[1] < 10 for p in higher)


def test_tail_value_is_nearest_rank():
    values = [float(v) for v in range(1, 41)]
    assert tail(values, 75.0) == (30.0, 10)
    assert tail(values, 50.0) == (20.0, 20)


# -- span self time -------------------------------------------------------------

def test_self_time_nested_spans():
    spans = [Span(1, None, "op", 0.0, 10.0), Span(2, 1, "call", 1.0, 6.0),
             Span(3, 2, "job", 2.0, 5.0)]
    st = self_times(spans)
    assert st == {1: 5.0, 2: 2.0, 3: 3.0}
    assert sum(st.values()) == spans[0].duration


def test_self_time_overlapping_children_count_once():
    spans = [Span(1, None, "op", 0.0, 10.0), Span(2, 1, "job", 1.0, 5.0),
             Span(3, 1, "job", 3.0, 7.0), Span(4, 1, "job", 9.0, 12.0)]
    st = self_times(spans)
    # children cover [1, 7] and [9, 10] of the op: 7 s
    assert st[1] == pytest.approx(3.0)
    assert union_length([(1.0, 5.0), (3.0, 7.0), (9.0, 10.0)]) == 7.0
    assert st[1] >= 0 and all(v >= 0 for v in st.values())


# -- process-tree CPU -----------------------------------------------------------

def test_tree_cpu_counts_live_children():
    before_self = sum(os.times()[:2])
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c",
                              BURN.format(s=0.6) + "time.sleep(30)\n"])
    try:
        deadline = time.time() + 20
        while tree_cpu_s() - before < 0.5 and time.time() < deadline:
            time.sleep(0.1)
        assert tree_cpu_s() - before >= 0.5
        assert sum(os.times()[:2]) - before_self < 0.5
    finally:
        child.kill()
        child.wait()


def test_tree_cpu_counts_reaped_grandchildren():
    before = tree_cpu_s()
    # the child reaps a CPU-burning grandchild, then lingers
    code = ("import subprocess, sys, time\n"
            f"subprocess.run([sys.executable, '-c', {BURN.format(s=0.5)!r}])\n"
            "time.sleep(30)\n")
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.time() + 20
        while tree_cpu_s() - before < 0.4 and time.time() < deadline:
            time.sleep(0.1)
        assert tree_cpu_s() - before >= 0.4
    finally:
        child.kill()
        child.wait()


# -- input generator ------------------------------------------------------------

def test_same_seed_gives_byte_identical_inputs(tmp_path):
    digests = []
    for seed, sub in ((3, "a"), (3, "b"), (4, "c")):
        out = tmp_path / sub
        gen.write_csv_days(seed, str(out / "stage"), [gen.date(2022, 7, 13)], 50)
        gen.write_arrival(seed, 1, str(out / "ev"), str(out / "docs"), 100, 20, 10)
        digests.append(gen.tree_digest(str(out)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_csv_days_use_the_reference_file_format(tmp_path):
    days = [gen.date(2022, 7, 13), gen.date(2022, 7, 14)]
    paths = gen.write_csv_days(5, str(tmp_path), days, 200)
    assert [os.path.basename(p) for p in paths] == [
        "product_order_trans_07132022.csv", "product_order_trans_07142022.csv"]
    text = open(paths[1]).read()
    assert text.startswith(gen.CSV_HEADER + "\n")
    for token in ('"web, mobile"', ",NULL,", ",null,", ",,"):
        assert token in text
    ids = [line.split(",")[0] for line in text.splitlines()[1:]]
    assert len(ids) == len(set(ids))


# -- metric names ---------------------------------------------------------------

def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    assert units == {**run.END_TO_END, **run.PER_LAYER}
    from workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
