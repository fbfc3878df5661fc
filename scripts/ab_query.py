"""Interleaved A/B of registered queries between two checkouts.

Usage::

    python scripts/ab_query.py OLD_REPO_DIR QUERY [QUERY...] --sf DIR \
        [--rounds N]    # default 10 pairs

Arms: OLD = the query run from ``OLD_REPO_DIR`` (a checkout of the
pre-change commit), NEW = the same query from the checkout holding this
script. Each round launches ONE fresh subprocess per arm, alternating
which arm goes first, so machine weather hits both arms equally (only
interleaved same-session pairs are verdicts; cross-session absolute times
swing several-fold). Each subprocess runs with its checkout as working
directory and ``PYTHONPATH``, so Spark's Python workers import the same
code as the driver. It does one cold + two warm noop-sink runs and prints
the warm wall times, the warm process-tree CPU-seconds (user + system of
the driver, the JVM and its Python workers, read from ``/proc`` by
``perfbench/harness.py:tree_cpu_s``), the Spark jobs each warm run
submitted (each run is its own job group, counted through
``statusTracker().getJobIdsForGroup``, which needs no Spark UI) and an
order-insensitive md5 of the collected rows, so the A/B asserts OUTPUT
EQUALITY, not just speed. The summary gives each arm's median and
quartiles and the number of rounds in which NEW's CPU-seconds beat OLD's
("k of n"): a difference that a few rounds' quartiles cannot resolve
shows as a k near n/2.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

NEW_REPO = Path(__file__).resolve().parents[1]
HARNESS = NEW_REPO / "perfbench" / "harness.py"

CHILD = r"""
import hashlib, importlib.util, json, sys, time
repo, name, sf_dir, harness = sys.argv[1:5]
sys.path.insert(0, repo)
spec_h = importlib.util.spec_from_file_location("ab_harness", harness)
h = sys.modules["ab_harness"] = importlib.util.module_from_spec(spec_h)
spec_h.loader.exec_module(h)
from bfs_etl_sep2025_spark.session import build_spark
from bfs_etl_sep2025_spark import registry

spark = build_spark(app_name=f"ab-{name}")
spec = registry.all_specs()[name]
sc = spark.sparkContext

def once(group):
    sc.setJobGroup(group, group)
    t0, c0 = time.perf_counter(), h.tree_cpu_s()
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall, cpu = time.perf_counter() - t0, h.tree_cpu_s() - c0
    return wall, cpu, len(sc.statusTracker().getJobIdsForGroup(group))

once("cold")
warm = [once(f"warm{i}") for i in range(2)]
sc.setJobGroup("digest", "digest")
rows = sorted(str(tuple(r)) for r in spec.fn(spark, sf_dir).collect())
digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
print(json.dumps({"wall": [w[0] for w in warm], "cpu": [w[1] for w in warm],
                  "jobs": [w[2] for w in warm], "rows": len(rows),
                  "md5": digest}))
"""


def run_arm(repo: str, query: str, sf: str) -> dict:
    env = dict(os.environ, PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, "-c", CHILD, repo, query, sf, str(HARNESS)],
        capture_output=True, text=True, timeout=3600, cwd=repo, env=env,
    )
    if out.returncode != 0:
        raise SystemExit(f"{query} in {repo} failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def quartiles(xs: list[float]) -> str:
    if len(xs) < 2:
        return f"{xs[0]:.3f}"
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return f"{q2:.3f} [{q1:.3f}, {q3:.3f}]"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old_repo")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--rounds", type=int, default=10)
    a = ap.parse_args()
    arms = {"OLD": str(Path(a.old_repo).resolve()), "NEW": str(NEW_REPO)}
    for q in a.queries:
        wall = {k: [] for k in arms}
        cpu = {k: [] for k in arms}
        md5s = set()
        for r in range(a.rounds):
            order = list(arms) if r % 2 == 0 else list(arms)[::-1]
            for label in order:
                res = run_arm(arms[label], q, a.sf)
                wall[label].append(statistics.median(res["wall"]))
                cpu[label].append(statistics.median(res["cpu"]))
                md5s.add((res["rows"], res["md5"]))
                print(
                    f"{q} {label} round{r}: wall "
                    f"{['%.3f' % w for w in res['wall']]} cpu "
                    f"{['%.2f' % c for c in res['cpu']]} jobs {res['jobs']} "
                    f"rows={res['rows']}",
                    flush=True,
                )
        same = len(md5s) == 1
        for label in arms:
            print(
                f"== {q} {label}: wall median [q1, q3] "
                f"{quartiles(wall[label])} s, cpu {quartiles(cpu[label])} s"
            )
        wins = sum(n < o for o, n in zip(cpu["OLD"], cpu["NEW"]))
        print(f"== {q}: NEW cpu below OLD in {wins} of {a.rounds} rounds")
        print(f"== {q}: outputs_identical={same}", flush=True)
        if not same:
            raise SystemExit(f"OUTPUT MISMATCH on {q}: {md5s}")


if __name__ == "__main__":
    main()
