"""``registry.priority_order``: the driver-window order computed from the
committed ``CORRECTNESS_r*.json`` files plus ``registry.PLAN_CHANGED``.

The external driver checks ~50 queries per round in ``queries()`` order, so
the head of that order must hold the queries with no green signal, then
the plan-changed ones, then the oldest greens. The order is computed when
``all_specs()`` runs, so landing a new ledger file re-rotates it without a
paste step.
"""

from __future__ import annotations

import json

from bfs_etl_sep2025_spark import registry

GREEN = {"hash_match": True}
ROWS_ONLY = {"err": "no_oracle", "spark_rows": 3}
RED = {"hash_match": False, "rows_match": False, "err": None}


def test_priority_order_ranks_never_then_plan_changed_then_oldest():
    names = ["a", "b", "c", "d", "e", "f", "g"]
    rounds = {
        1: {"a": GREEN, "b": GREEN, "c": GREEN, "d": ROWS_ONLY},
        2: {"a": GREEN, "c": GREEN, "f": RED},
        3: {"c": GREEN},
    }
    order = registry.priority_order(names, rounds, plan_changed=("c",))
    # e, g never checked (registration order) -> c plan-changed -> f never
    # green -> b, d last green r1 (registration order) -> a last green r2
    assert order == ["e", "g", "c", "f", "b", "d", "a"]


def test_priority_order_without_ledger_is_registration_order():
    names = ["z", "y", "x"]
    assert registry.priority_order(names, {}) == names


def test_is_green_shapes():
    assert registry.is_green(GREEN) and registry.is_green(ROWS_ONLY)
    assert registry.is_green({"rows_match": True, "hash_match": None})
    assert not registry.is_green(RED)
    assert not registry.is_green({"err": "timeout"})


def test_load_rounds_reads_only_ledger_files(tmp_path):
    (tmp_path / "CORRECTNESS_r3.json").write_text(json.dumps({"q": GREEN}))
    (tmp_path / "CORRECTNESS_r3_extra.json").write_text("not json")
    assert registry.load_rounds(tmp_path) == {3: {"q": GREEN}}
    assert registry.load_rounds(tmp_path / "missing") == {}


def test_all_specs_follows_the_committed_ledger():
    specs = registry.all_specs()
    registered = list(registry._REGISTRY)
    assert list(specs) == registry.priority_order(
        registered, registry.load_rounds()
    )
    assert sorted(specs) == sorted(registered)
