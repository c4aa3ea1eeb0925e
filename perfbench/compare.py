"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE HEAD

BASE and HEAD are files or directories of files holding the standard
output of ``run.py`` (the ``{"record": ...}`` lines are used; other
lines are skipped).  For every workload and metric the table gives
each side's run count, median and quartiles, the share of seed-matched
pairs that HEAD wins (ties count for neither side), and a verdict:

* ``gain``: over at least ten seed-matched pairs, HEAD wins at least
  nine tenths and the medians differ by more than BASE's interquartile
  range;
* ``regression``: HEAD's median is worse than BASE's by more than the
  metric's bound from BENCHMARK.json;
* ``unresolved``: BASE's own spread is wider than the bound, and HEAD
  does not beat every BASE run;
* ``same``: none of these.

Per-layer metrics have no bound; they get ``gain``, ``loss`` (the
mirror of ``gain``) or ``same``.

Every record carries the host's load during its timed passes.  A
workload whose two sets were taken under different load is refused:
its metrics are not compared and the exit code is 1.  The load differs
when the sets' median share of CPU time stolen by the hypervisor (other
tenants of the machine) or their median share of CPU time used by
processes outside the benchmark (other jobs on the same machine)
differ by more than ``MAX_LOAD_GAP``.  Load averages are recorded but
not compared: they count the benchmark's own threads, which a change
to the program may legitimately add or remove.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10
MAX_LOAD_GAP = 0.05


def load(path: str) -> tuple:
    """({(workload, metric): {seed: [values]}}, {workload: [(steal
    share, other share)]}) from every record line."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    out: dict = defaultdict(lambda: defaultdict(list))
    loads: dict = defaultdict(list)
    for name in files:
        with open(name) as f:
            for line in f:
                if not line.startswith('{"record"'):
                    continue
                rec = json.loads(line)["record"]
                for metric, value in rec["metrics"].items():
                    out[(rec["workload"], metric)][rec["seed"]].append(value)
                loads[rec["workload"]].append(
                    (rec["load"]["steal_share"], rec["load"]["other_share"]))
    return out, loads


def load_gap(base: list, head: list):
    """Why two sets' host load differs, or None."""
    for i, what in enumerate(("steal share", "other-process share")):
        b, h = (statistics.median(v[i] for v in side) for side in (base, head))
        if abs(b - h) > MAX_LOAD_GAP:
            return f"median {what} {b:.3f} vs {h:.3f}"
    return None


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(base, head, pairs, better, bound):
    sign = 1 if better == "higher" else -1
    bq1, bmed, bq3 = quartiles(base)
    _, hmed, _ = quartiles(head)
    wins = sum(sign * (h - b) > 0 for b, h in pairs)
    losses = sum(sign * (h - b) < 0 for b, h in pairs)
    gap = sign * (hmed - bmed)
    iqr = bq3 - bq1
    enough = len(pairs) >= MIN_PAIRS
    if enough and wins >= 0.9 * len(pairs) and gap > iqr:
        return "gain", wins, len(pairs)
    if bound is None:
        if enough and losses >= 0.9 * len(pairs) and -gap > iqr:
            return "loss", wins, len(pairs)
        return "same", wins, len(pairs)
    if -gap > bound * abs(bmed):
        return "regression", wins, len(pairs)
    beats_all = (min(head) > max(base)) if sign > 0 else (max(head) < min(base))
    if bmed and iqr / abs(bmed) > bound and not beats_all:
        return "unresolved", wins, len(pairs)
    return "same", wins, len(pairs)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("head")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench_spec = json.load(f)
    spec = {m["name"]: m for m in bench_spec["end_to_end"] + bench_spec["per_layer"]}
    (base, base_load), (head, head_load) = load(args.base), load(args.head)
    refused = {}
    for workload in sorted(set(base_load) & set(head_load)):
        gap = load_gap(base_load[workload], head_load[workload])
        if gap:
            refused[workload] = gap
            print(f"{workload}: refused, the sets ran under different host "
                  f"load ({gap})")
    print(f"{'workload':20} {'metric':30} {'n':>5} "
          f"{'base q1/med/q3':>32} {'head q1/med/q3':>32} {'wins':>6}  verdict")
    for key in sorted(set(base) & set(head)):
        workload, metric = key
        m = spec.get(metric)
        if m is None or workload in refused:
            continue
        b = [v for vs in base[key].values() for v in vs]
        h = [v for vs in head[key].values() for v in vs]
        pairs = [(statistics.median(base[key][s]), statistics.median(head[key][s]))
                 for s in sorted(set(base[key]) & set(head[key]))]
        v, wins, n = verdict(b, h, pairs, m["better"], m.get("bound"))
        fmt = "{:.4g}/{:.4g}/{:.4g}"
        print(f"{workload:20} {metric:30} {len(b):>2}/{len(h):<2} "
              f"{fmt.format(*quartiles(b)):>32} {fmt.format(*quartiles(h)):>32} "
              f"{wins:>2}/{n:<3}  {v}")
    return 1 if refused else 0


if __name__ == "__main__":
    sys.exit(main())
