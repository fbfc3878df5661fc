"""Staleness ledger: latest external-driver round per registered query.

The external driver hash-checks ~50 queries per round in the iteration
order of ``__spark_entry__.queries()``. ``registry.all_specs()`` computes
that order from the committed ``CORRECTNESS_r*.json`` files plus
``registry.PLAN_CHANGED`` (see ``registry.priority_order``), so nothing
needs pasting; this script only reports the ledger behind it:

    python scripts/staleness_ledger.py

  * queries NEVER externally checked (the head of the order),
  * any query whose latest row was NOT green (should be none, ever),
  * the latest-green distribution and the oldest rotation candidates.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bfs_etl_sep2025_spark import registry  # noqa: E402


def main() -> None:
    rounds = registry.load_rounds()
    latest: dict[str, int] = {}
    latest_any: dict[str, tuple[int, bool]] = {}
    for rnum in sorted(rounds):
        for name, row in rounds[rnum].items():
            green = registry.is_green(row)
            latest_any[name] = (rnum, green)
            if green:
                latest[name] = rnum
    names = list(registry.all_specs())
    never = [n for n in names if n not in latest_any]
    not_green = [(n, latest_any[n][0]) for n in names if n in latest_any and not latest_any[n][1]]

    print(f"registered queries: {len(names)}")
    print(f"externally checked (ever): {len(names) - len(never)}")
    if never:
        print(f"\nNEVER checked ({len(never)}):")
        for n in never:
            print(f"  {n}")
    if not_green:
        print(f"\nLATEST ROW NOT GREEN ({len(not_green)}) — investigate:")
        for n, r in not_green:
            print(f"  {n}  (r{r})")
    by_round: dict[int, int] = {}
    for n in names:
        if n in latest:
            by_round[latest[n]] = by_round.get(latest[n], 0) + 1
    print("\nlatest-green distribution:")
    for r in sorted(by_round):
        print(f"  r{r}: {by_round[r]}")
    print("\nnext driver window (first 60 of the computed order):")
    for n in names[:60]:
        print(f"  r{latest.get(n, '-')}  {n}")


if __name__ == "__main__":
    main()
