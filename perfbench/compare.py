#!/usr/bin/env python3
"""Summarize one result set, or compare two, per (workload, metric).

    python3 perfbench/compare.py A.jsonl            # medians, quartiles, spread
    python3 perfbench/compare.py A.jsonl B.jsonl    # plus a verdict for B vs A

Result sets are JSONL files written by sweep.py. Quartiles are Python's
statistics.quantiles(values, n=4); spread is (q3 - q1) / median. Bounds and
directions come from BENCHMARK.json. Verdicts for B against A:

  worse       B's median is worse than A's by more than the bound
  better      every B run beats every A run, or the medians differ by more
              than the bound and by more than A's own quartile spread
  unresolved  either side's spread exceeds the bound
  within      otherwise: B is within the bound of A

Exit status is 1 if any pairing is worse or unresolved, or any run failed
its output check.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault((r["workload"], r["trace"]), []).append(r["result"])
    return runs


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def verdict(metric, a, b):
    bound, higher = metric["bound"], metric["better"] == "higher"
    ma, _, _, sa = stats(a)
    mb, _, _, sb = stats(b)
    worse_by = (ma - mb) / ma if higher else (mb - ma) / ma
    all_better = (min(b) > max(a)) if higher else (max(b) < min(a))
    if all_better:
        return "better"
    if sa > bound or sb > bound:
        return "unresolved"
    if worse_by > bound:
        return "worse"
    if -worse_by > max(bound, sa):
        return "better"
    return "within"


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = [load(p) for p in sys.argv[1:]]
    bad = False
    for (workload, trace) in sorted(sets[0]):
        if trace:
            continue
        sides = [s.get((workload, 0), []) for s in sets]
        if any(not runs for runs in sides):
            print(f"{workload}: missing from one result set")
            bad = True
            continue
        counts = [(sum(r["attempted"] for r in runs), sum(r["failed"] for r in runs))
                  for runs in sides]
        print(f"{workload}: runs {'/'.join(str(len(r)) for r in sides)}, "
              f"jobs attempted/failed {', '.join(f'{a}/{f}' for a, f in counts)}")
        bad |= any(f for _, f in counts)
        for m in bench["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in runs] for runs in sides]
            cells = []
            for v in vals:
                med, q1, q3, spread = stats(v)
                cells.append(f"{med:12.5g} [{q1:.5g}, {q3:.5g}] spread {spread:6.1%}")
            line = f"  {m['name']:16s} " + " | ".join(cells)
            if len(vals) == 2:
                v = verdict(m, vals[0], vals[1])
                bad |= v in ("worse", "unresolved")
                line += f"  -> {v} (bound {m['bound']:.0%})"
            elif stats(vals[0])[3] > m["bound"] and m["name"] != "setup_s":
                line += f"  spread above bound {m['bound']:.0%}"
                bad = True
            print(line)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
