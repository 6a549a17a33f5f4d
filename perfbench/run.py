#!/usr/bin/env python3
"""Repository benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload <ksql_live|curation_cdc|batch_ops>
        --seed <n> --seconds <s> --trace <0|1> [--corrupt <check>]

Run from the repository root. `build.py` compiles the engine (src/main)
and the benchmark's Scala sources into `$CARGO_TARGET_DIR/perfbench`
(default `.bench_build`), again only when a source changes. The workload
runs in one fresh JVM on `local[4]`; everything it writes stays under the
build directory, which keeps only the latest run's work directory.

The last stdout line is {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are BENCHMARK.json's end_to_end set, with --trace 1
its per_layer set. --corrupt perturbs the expected output of one check, to
show that the check fails (see perfbench/chaos.py); several checks may be
named, comma-separated, and `oracle:<query>` (or `oracle:*`) corrupts the
DuckDB result of a `batch_ops` query.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
from build import build, default_dir, fail, spark_jars  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
# per-layer metric prefixes each workload exercises; the others read 0
LAYERS = {
    "ksql_live": ("sources.", "functions.avro_decode_ns", "microbatch.", "state.",
                  "sinks.", "jvm.", "trace."),
    "curation_cdc": ("sources.", "functions.avro_decode_evolving", "functions.gates",
                     "microbatch.", "curation.", "cdc.", "jvm.", "trace."),
    "batch_ops": ("operators.", "jvm.", "trace."),
}


def run_jvm(classes, work, args, launch_extra):
    log = open(os.path.join(work, "jvm.log"), "w")
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation keep G1's adaptive sizing from
    # varying peak RSS and GC pauses from run to run
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xmn512m",
           f"-Djava.io.tmpdir={tmpdir}",
           "-Dspark.ui.enabled=false",
           "-Dderby.system.home=" + tmpdir] + opens + [
        "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
        "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
        "--launch-ms", str(int(time.time() * 1000))] + launch_extra
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                         start_new_session=True)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"workload timed out after {JVM_TIMEOUT_S} s (log: {log.name})")
    finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        log.close()
    if code != 0:
        with open(log.name) as fh:
            tail = fh.read()[-3000:]
        fail(f"workload JVM exited with {code}:\n{tail}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--corrupt", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    build_dir = default_dir()
    classes = build(build_dir)
    # one run's outputs at a time: earlier runs' work directories go
    shutil.rmtree(os.path.join(build_dir, "work"), ignore_errors=True)
    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{args.trace}")
    os.makedirs(work)

    extra = []
    if args.workload == "batch_ops":
        import gen_tables
        import oracle
        data = os.path.join(work, "data")
        t0 = time.time()
        gen_tables.main(data, args.seed)
        extra = ["--data", data, "--gen-s", str(time.time() - t0)]
    res = run_jvm(classes, work, args, extra)
    if args.workload == "batch_ops":
        corrupt = {c[len("oracle:"):] for c in args.corrupt.split(",") if c.startswith("oracle:")}
        for name, ok, detail in oracle.compare(data, os.path.join(work, "dumps"), corrupt):
            res["checks"].append({"name": f"oracle:{name}", "ok": ok, "detail": detail})
            res["failed"] += 0 if ok else 1

    key = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[key]:
        source = res["layer"] if args.trace else res["e2e"]
        v = source.get(m["name"])
        if v is None and args.trace and not m["name"].startswith(LAYERS[args.workload]):
            v = 0.0
        if v is None:
            fail(f"workload did not report metric {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    bad = [c for c in res["checks"] if not c["ok"]]
    for c in bad:
        print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    info = dict(res["info"], checks=len(res["checks"]), checks_failed=[c["name"] for c in bad])
    with open(os.path.join(work, "summary.json"), "w") as fh:
        json.dump({"info": info, "e2e": res["e2e"], "layer": res["layer"]}, fh, indent=1)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "info": info}))
    print(json.dumps({"correct": not bad and res["failed"] == 0,
                      "attempted": max(1, int(res["attempted"])),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
