#!/usr/bin/env python3
"""Steadiness check: repeat each workload over several seeds and print,
for every metric, its median, quartiles and spread (IQR / median) next to
the bound BENCHMARK.json fixes.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1,2,3 | --runs N]
        [--trace 0|1] [--out results.json]

Run from the root of a checkout. Each run is `perfbench/run.py` with the
command line BENCHMARK.json gives, one seed per run, run one after another.
A spread above a third of its bound is flagged `WIDE`; above the bound,
`OVER`. setup_s is flagged the same way as every other bounded metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def main():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", help="comma-separated seeds")
    ap.add_argument("--runs", type=int, default=10,
                    help="seeds 1..N when --seeds is not given")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's result here (JSON)")
    a = ap.parse_args()
    seeds = ([int(s) for s in a.seeds.split(",")] if a.seeds
             else list(range(1, a.runs + 1)))
    metrics = spec["per_layer" if a.trace else "end_to_end"]
    results = {}
    failed = False
    for w in a.workloads.split(","):
        runs = []
        for seed in seeds:
            cmd = spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True,
                               text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().split("\n")
            try:
                res = json.loads(lines[-1])
            except ValueError:
                res = None
            ok = p.returncode == 0 and res is not None and res["correct"]
            failed |= not ok
            print(f"{w} seed {seed}: exit {p.returncode} "
                  f"{'ok' if ok else 'FAILED'} wall {wall:.1f} s", flush=True)
            if not ok:
                sys.stderr.write(p.stderr[-2000:])
            if res is not None:
                runs.append({"seed": seed, "wall_s": wall, "result": res})
        results[w] = runs
        walls = [r["wall_s"] for r in runs]
        if walls:
            print(f"{w}: wall per run median {statistics.median(walls):.1f} s,"
                  f" max {max(walls):.1f} s")
        print(f"{'metric':34} {'n':>3} {'median':>14} {'q1':>14} "
              f"{'q3':>14} {'spread':>8} {'bound':>6}")
        for m in metrics:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                    if m["name"] in r["result"]["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            bound = m.get("bound")
            flag = ""
            if bound is not None:
                flag = ("OVER" if spread > bound else
                        "WIDE" if spread > bound / 3 else "ok")
            print(f"{m['name']:34} {len(vals):>3} {med:>14.4f} {q1:>14.4f} "
                  f"{q3:>14.4f} {spread:>8.4f} "
                  f"{'' if bound is None else bound:>6} {flag}")
        print(flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f, indent=1)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
