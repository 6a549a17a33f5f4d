#!/usr/bin/env python3
"""Shows that every output check of the benchmark fails on a wrong output.

For each workload, one run corrupts the expected output of every check
(`run.py --corrupt ...`); the run must report `correct: false` with exactly
those checks failing. Clean runs (no corruption) must pass every check.

Usage: python3 perfbench/chaos.py [out.json]
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_QUERIES = ["corpus_split_leakage_safe", "dedup_char_lsh_skewed", "q1_pricing_summary",
                  "q3_shipping", "window_fn_user_rank", "ref_window_count",
                  "cdc_merge_apply_bucketed"]
CHECKS = {
    "ksql_live": ["delivery", "jovens_rows", "object_size", "object_names",
                  "keys_sidecar", "idadecont_counts"],
    "curation_cdc": ["delivery", "snapshot", "dead_letter", "manifest"],
    "batch_ops": [f"oracle:{q}" for q in ORACLE_QUERIES],
}


def run(workload, seed, corrupt):
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    if corrupt:
        cmd += ["--corrupt", ",".join(corrupt)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload}: run.py exited {p.returncode}\n{p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    failed = sorted(set(re.findall(r"^check failed: ([\w:]+):", p.stderr, re.M)))
    return res, failed


def main(out=None):
    report, ok = [], True
    for workload, checks in CHECKS.items():
        res, failed = run(workload, 7, checks)
        caught = not res["correct"] and failed == sorted(checks)
        ok &= caught
        report.append({"workload": workload, "corrupted": checks, "failed_checks": failed,
                       "correct": res["correct"], "failed": res["failed"],
                       "attempted": res["attempted"], "all_caught": caught})
        print(json.dumps(report[-1]), flush=True)
    if out:
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
