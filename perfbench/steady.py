"""Runs one workload once per seed, one run after another, and prints each
end-to-end metric's median and spread: the distance between the first and
third quartile of the per-run values, as a share of their median.

    python3 perfbench/steady.py --workload extract-mixed --seeds 1-10

The spread of every metric but setup_s should stay below a third of its
bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values, shares = {}, []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit("seed %d failed" % seed)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        shares.append(res["failed"] / res["attempted"])
        row = []
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            row.append("%s=%.5g" % (name, m["value"]))
        print("seed %d  run %.1f s  attempted %d  failed %d  %s"
              % (seed, time.monotonic() - t0, res["attempted"], res["failed"], "  ".join(row)),
              flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4)
        spread = (q[2] - q[0]) / med
        bound = bounds.get(name)
        print("%-24s n %2d  median %12.5g  spread %.4f  bound %s"
              % (name, len(xs), med, spread, bound if bound is not None else "-"))
    print("failed shares: %s" % sorted(set(shares)))


if __name__ == "__main__":
    main()
