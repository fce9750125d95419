#!/usr/bin/env python3
"""Run the benchmark once per seed and report, per workload and end-to-end
metric, the median and the spread (distance between the first and third
quartiles over the median), the figures a bound is judged against.

    python3 perfbench/spread.py --workloads daily_incremental query_mix --seeds 1-10
    python3 perfbench/spread.py ... --out runs.json   # also keep every result
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for w in args.workloads:
        for seed in seeds_of(args.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, cwd=ROOT)
            res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
            runs.append({"workload": w, "seed": seed, "result": res})
            print(w, seed, "exit", p.returncode,
                  "" if res is None else {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  "" if res is None else f"failed {res['failed']}/{res['attempted']}",
                  file=sys.stderr, flush=True)
    if args.out:
        json.dump(runs, open(args.out, "w"), indent=1)
    for w in args.workloads:
        ok = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) < 2:
                continue
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            print(f"{w:28s} {m['name']:22s} median {med:12.4f} {m['unit']:6s} "
                  f"spread {(q3 - q1) / med:6.3f}  bound {m['bound']}  n={len(vals)}")


if __name__ == "__main__":
    main()
