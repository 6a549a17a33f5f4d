#!/usr/bin/env python3
"""One traced run of a workload, written up as an attribution table.

Usage: python3 perfbench/attribution.py <workload> <seed> <spread.json> <out.md>

`spread.json` is `steady.py`'s output for the same workload (untraced
runs); the traced run's `trace.latency_p50_ms` against their median
`latency_p50_ms` is the tracing overhead.
"""
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(workload, seed, spread_path, out):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                        "--trace", "1"], stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"traced run exited {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    summary = json.load(open(glob.glob(os.path.join(build, "work", "*", "summary.json"))[0]))
    untraced = json.load(open(spread_path))["summary"]["latency_p50_ms"]["median"]
    traced = res["metrics"]["trace.latency_p50_ms"]["value"]
    lines = [f"# Traced run: `{workload}`, seed {seed}, run_seconds {spec['run_seconds']}", "",
             f"correct: {res['correct']}, attempted {res['attempted']}, failed {res['failed']}", "",
             "## Tracing overhead", "",
             "| latency_p50_ms untraced (median of spread runs) | traced | overhead |",
             "|---|---|---|",
             f"| {untraced:.1f} | {traced:.1f} | {100.0 * (traced / untraced - 1):+.1f} % |", "",
             "## Self time per layer (ms, from spans)", "", "| layer | self ms |", "|---|---|"]
    for k, v in sorted(summary["info"].items()):
        if k.startswith("self_ms."):
            lines.append(f"| {k[len('self_ms.'):]} | {float(v):.0f} |")
    lines += ["", "## Per-layer metrics", "", "| metric | value | unit |", "|---|---|---|"]
    for m in spec["per_layer"]:
        v = res["metrics"][m["name"]]
        if m["name"] in summary["layer"]:
            lines.append(f"| {m['name']} | {v['value']:.6g} | {v['unit']} |")
    info = {k: v for k, v in summary["info"].items() if not k.startswith("self_ms.")}
    lines += ["", "## Run info", "", "```", json.dumps(info, indent=1), "```", ""]
    with open(out, "w") as fh:
        fh.write("\n".join(lines))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4])
