#!/bin/bash
# Two-run drift adjudication (the BENCH_DRIFT.md recipe): re-run each
# named query as a fresh-JVM isolated Bench CHILD — exactly the full
# protocol's per-query measurement (cold + 6 convergence-gated warm
# passes + contention extras) — TWICE, on a quiet box, writing per-run
# detail JSONs under /tmp/graft_drift/.
# Invoking the child directly (SPARK_GRAFT_BENCH_SHARD) never touches
# the committed BENCH_DETAIL/HEADLINE artifacts the orchestrator's full
# mode rewrites. SPARK_GRAFT_CPUS defaults to every core (nproc).
#
# Usage: tools/drift_tworun.sh q1 q2 ...   (run ALONE on the box)
set -u
cd "$(dirname "$0")/.."
OUT=/tmp/graft_drift
mkdir -p "$OUT"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
export SPARK_GRAFT_BENCH_SHARD=0/1
export SPARK_GRAFT_BENCH_PHASE=warm
export SPARK_GRAFT_BENCH_PASSES=6
export SPARK_GRAFT_BENCH_EXTRAS=2
for q in "$@"; do
  for run in 1 2; do
    SPARK_GRAFT_BENCH_ONLY="$q" \
    SPARK_GRAFT_BENCH_DETAIL="$OUT/${q}_run${run}.json" \
      sbt -batch -error "runMain graft.Bench" \
        > "$OUT/${q}_run${run}.log" 2>&1
    python3 - "$OUT/${q}_run${run}.json" "$q" "$run" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
w = d["queries_warm"]
print(f"{sys.argv[2]} run{sys.argv[3]}: warm={list(w.values())[0]:.3f}s "
      f"cold={list(d['queries_cold'].values())[0]:.3f}s "
      f"calib_jvm={d['calib_jvm_best_s']:.3f} calib_spark={d['calib_spark_best_s']:.3f} "
      f"load_start={d['load_avg_start']:.1f}")
EOF
  done
done
