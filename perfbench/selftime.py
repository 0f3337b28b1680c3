#!/usr/bin/env python3
"""Self time per span name in a trace written by a --trace 1 run.

    python3 perfbench/selftime.py .perfbench/traces/recipe_dag-seed1.jsonl

A span's self time is its duration minus the part of its interval that
its child spans (spans naming it as parent) cover. Prints, per
evaluation, the wall time of its `eval` span and the total and self time
of every span name under it; spans outside any evaluation (eval -1: the
layer probes) are listed last.
"""
import json
import sys
from collections import defaultdict


def covered(intervals):
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0.0)


def main(path):
    spans = [json.loads(l) for l in open(path)]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    by_eval = defaultdict(lambda: defaultdict(lambda: [0, 0.0, 0.0]))
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        inside = [(max(k["start_ms"], s["start_ms"]), min(k["end_ms"], s["end_ms"]))
                  for k in kids[s["id"]]]
        row = by_eval[s["eval"]][s["name"]]
        row[0] += 1
        row[1] += dur
        row[2] += dur - covered([iv for iv in inside if iv[1] > iv[0]])
    for ev in sorted(by_eval, key=lambda e: (e < 0, e)):
        names = by_eval[ev]
        wall = names["eval"][1] if "eval" in names else None
        print(f"eval {ev}" + (f"  wall {wall / 1e3:.3f} s" if wall else "  (layer probes)"))
        print(f"  {'span':26}{'n':>6}{'total_s':>10}{'self_s':>10}")
        for name, (n, tot, self) in sorted(names.items(), key=lambda kv: -kv[1][2]):
            print(f"  {name:26}{n:6d}{tot / 1e3:10.3f}{self / 1e3:10.3f}")


if __name__ == "__main__":
    main(sys.argv[1])
