#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: for each metric, the
distance between the first and third quartile of its values over several
seeds (`statistics.quantiles(values, n=4)`), as a share of their median.

Usage: python3 perfbench/steady.py <workload> <first_seed> <runs> [out.json]
Runs `perfbench/run.py` once per seed (trace off), one run at a time.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main(workload, first, runs, out=None):
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    values, results = {}, []
    for seed in range(first, first + runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        results.append({"seed": seed, "wall_s": round(time.time() - t0, 1), **res})
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(seed, results[-1]["wall_s"], res["correct"], {k: round(v["value"], 3) for k, v in res["metrics"].items()},
              flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {}
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / q2
        summary[k] = {"median": q2, "spread": spread, "bound": bounds[k]}
        print(f"{k:16s} median {q2:10.3f}  spread {spread:6.3f}  bound {bounds[k]}")
    if out:
        with open(out, "w") as fh:
            json.dump({"workload": workload, "runs": results, "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
         sys.argv[4] if len(sys.argv) > 4 else None)
