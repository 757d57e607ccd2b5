#!/usr/bin/env python3
"""Compare two result sets of the benchmark: a parent and a change.

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each file holds the JSON lines that ``run.py --record FILE`` appends (the
untraced runs are used). Runs pair up per workload in file order: record
them alternating (parent, change, change, parent, ...), at least ten pairs
per workload, with the same seed within a pair.

One row per workload and end-to-end metric: each side's median and
quartiles, the share of pairs the change won (ties count for neither side),
and a verdict against the bound in BENCHMARK.json:

- ``improved``: the change won at least 90% of the pairs and the medians
  differ by more than the parent's own interquartile range;
- ``worse``: the change's median is worse than the parent's by more than
  the bound;
- ``unresolved``: neither of those, and the parent's interquartile range
  is wider than the bound, so a regression within the bound cannot be
  ruled out (unless every change run beats every parent run);
- ``within bound``: neither of those, and the spread is narrow enough to
  say the change is no worse than the bound allows.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
MIN_PAIRS = 10


def load(path: str) -> dict[str, list[dict]]:
    runs = defaultdict(list)
    for line in Path(path).read_text().splitlines():
        if line.strip():
            rec = json.loads(line)
            if rec.get("trace", 0) == 0:
                runs[rec["workload"]].append(rec)
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(par: list[float], chg: list[float], higher_better: bool, bound: float):
    sign = 1 if higher_better else -1
    share = sum(sign * (c - p) > 0 for p, c in zip(par, chg)) / len(par)
    p1, pm, p3 = quartiles(par)
    gain = sign * (statistics.median(chg) - pm)  # > 0: the change is better
    if share >= 0.9 and gain > p3 - p1:
        return share, "improved"
    if pm and -gain / abs(pm) > bound:
        return share, "worse"
    all_better = min(sign * (c - p) for c in chg for p in par) > 0
    if pm and (p3 - p1) / abs(pm) > bound and not all_better:
        return share, "unresolved"
    return share, "within bound"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.loads(BENCHMARK.read_text())
    parent, change = load(argv[0]), load(argv[1])
    print(f"{'workload':20s} {'metric':14s} {'parent median [q1, q3]':>36s} "
          f"{'change median [q1, q3]':>36s} {'won':>5s}  verdict")
    for wl in sorted(set(parent) | set(change)):
        n = min(len(parent[wl]), len(change[wl]))
        if n == 0:
            print(f"{wl:20s} (runs on one side only)")
            continue
        pairs = list(zip(parent[wl][:n], change[wl][:n]))
        if any(p["seed"] != c["seed"] for p, c in pairs):
            print(f"{wl:20s} warning: seeds differ within some pairs", file=sys.stderr)
        if n < MIN_PAIRS:
            print(f"{wl:20s} warning: {n} pairs, fewer than {MIN_PAIRS}", file=sys.stderr)
        for m in spec["end_to_end"]:
            name = m["name"]
            par = [p["result"]["metrics"][name]["value"] for p, _ in pairs]
            chg = [c["result"]["metrics"][name]["value"] for _, c in pairs]
            share, v = verdict(par, chg, m["better"] == "higher", m["bound"])
            p1, pm, p3 = quartiles(par)
            c1, cm, c3 = quartiles(chg)
            print(f"{wl:20s} {name:14s} {pm:>14.6g} [{p1:.6g}, {p3:.6g}]".ljust(72)
                  + f"{cm:>14.6g} [{c1:.6g}, {c3:.6g}]".ljust(37)
                  + f"{share:>5.0%}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
