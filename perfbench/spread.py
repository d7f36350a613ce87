#!/usr/bin/env python3
"""Run one workload once per seed and report each metric's run-to-run spread.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 10] [--trace 0] [--out f.json]

For every metric it prints the median of the runs and the spread, the
distance between the first and third quartile (statistics.quantiles, n=4)
as a share of the median, next to the metric's bound from BENCHMARK.json.
With --out, every run's result line is saved as JSON.
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
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                               "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        wall = time.time() - t0
        print("seed %d: exit %d, %.1f s, %s" % (s, p.returncode, wall,
              "no result" if res is None else "correct=%s attempted=%d failed=%d" %
              (res["correct"], res["attempted"], res["failed"])), flush=True)
        runs.append({"seed": s, "exit": p.returncode, "wall_s": wall, "result": res})
    ok = [r["result"] for r in runs if r["result"]]
    names = list(ok[0]["metrics"]) if ok else []
    print("%-52s %14s %8s %6s" % ("metric", "median", "spread", "bound"))
    for n in names:
        vals = [r["metrics"][n]["value"] for r in ok if n in r["metrics"]]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(n)
        print("%-52s %14.4f %8.4f %6s" % (n, med, spread, "" if b is None else b))
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seconds": seconds, "trace": a.trace, "runs": runs}, fh, indent=1)
    sys.exit(0 if all(r["exit"] == 0 for r in runs) else 1)


if __name__ == "__main__":
    main()
