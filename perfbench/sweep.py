#!/usr/bin/env python3
"""Run the benchmark over several seeds and collect one result set.

    python3 perfbench/sweep.py --out perfbench/.work/a.jsonl --runs 10 --first-seed 1
    python3 perfbench/sweep.py --out b.jsonl --runs 5 --workloads standing_appends

Each line of the output is {"workload", "seed", "trace", "wall_s", "result"},
where "result" is the last stdout line of one run.py call. Settings default
to BENCHMARK.json at the repository root. Summarize or compare result sets
with compare.py.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(a.out, "a") as out:
        for w in a.workloads:
            for seed in range(a.first_seed, a.first_seed + a.runs):
                t0 = time.time()
                p = subprocess.run(bench["command"] + [
                    "--workload", w, "--seed", str(seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace)], cwd=ROOT, capture_output=True, text=True)
                wall = round(time.time() - t0, 3)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    sys.stderr.write(p.stderr[-4000:])
                    sys.exit(f"{w} seed {seed}: exit {p.returncode}")
                result = json.loads(lines[-1])
                out.write(json.dumps({"workload": w, "seed": seed, "trace": a.trace,
                                      "wall_s": wall, "result": result}) + "\n")
                out.flush()
                print(f"{w} seed {seed}: {wall} s correct={result['correct']}", file=sys.stderr)


if __name__ == "__main__":
    main()
