#!/usr/bin/env bash
# End-of-change gate on the compiled classes (`sbt -batch compile`
# first). Usage: scripts/gate.sh <tag>; logs to <tag>_gate.log.
#  1. full-surface Verify + DuckDB oracle at sf0.01, at sf0.1 and on
#     the empty corpus;
#  2. scale and skew probe re-measure;
#  3. two full v2 benches back to back (run A, run B) — the probe
#     report runs after run A so its shuffle-drift block compares
#     same-SF sidecars, and run A refreshes benchdata/shuffle_ref.json;
#  4. the paired same-binary statistic A vs B with both runs' shuffle
#     sidecars (bar: zero flags), then shuffle drift B vs A (bar: zero
#     flags on production names).
# Spark runs on every CPU `nproc` reports. Freeze any artifact a spec
# replays under a stamped name (benchdata/r15_* pattern) BEFORE this
# script overwrites the live bench_v2_* files. Run on a QUIET machine.
set -uo pipefail
cd "$(dirname "$0")/.."
TAG="${1:?usage: scripts/gate.sh <tag>}"
OUT="/tmp/gate_$TAG"
export SPARK_GRAFT_CPUS="$(nproc)"
exec > >(tee "${TAG}_gate.log") 2>&1

step() { echo; echo "=== [$(date +%H:%M:%S)] $1 ==="; }

# verify <label> <dataset dir>: full-surface Verify, then the oracle
verify() {
  step "verify + DuckDB oracle, $1 (full surface)"
  scripts/java_bench.sh graft.Verify "$2" "${OUT}_$1" >/dev/null 2>&1 \
    && echo "verify $1 OK" || echo "VERIFY $1 FAILED"
  python3 scripts/check.py "$2" "${OUT}_$1" 2>&1 | tail -4
}

# bench <run>: one full v2 bench at sf0.1, kept under benchdata/
bench() {
  step "full v2 bench, run $1 (3 interleaved passes, per-query medians)"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    scripts/java_bench.sh graft.Bench 2>/dev/null | tail -1
  cp bench_result.json "benchdata/bench_v2_run$1.json"
  cp bench_reps.json "benchdata/bench_v2_run$1_reps.json"
  cp bench_shuffle.json "benchdata/shuffle_run$1.json"
}

verify sf0.01 /root/testdata/sf0.01
verify sf0.1 /root/testdata/sf0.1
# every query must survive the input shape a deployment produces
# routinely (a partition pruned to nothing); the RELATIVE dir
# regression-proves the streamSrcDir symlink absolutization
python3 scripts/make_empty.py /root/testdata/sf0.001 benchdata/sf0 >/dev/null
verify sf0 benchdata/sf0

step "probe re-measure"
bash scripts/scale_probe.sh 2>&1 | grep -E "^==|done"
bash scripts/skew_probe.sh 2>&1 | grep -E "^==|done"

bench A
cp benchdata/shuffle_runA.json benchdata/shuffle_ref.json
echo "shuffle_ref.json refreshed from run A's sidecar"

step "probe report (after run A: drift block compares same-SF sidecars)"
python3 scripts/probe_report.py 2>&1 | tail -30

bench B

step "paired same-binary statistic A vs B with plan-identity sidecars (bar: zero flags)"
scripts/java_bench.sh graft.BenchCompare \
  benchdata/bench_v2_runA_reps.json benchdata/bench_v2_runB_reps.json \
  benchdata/shuffle_runA.json benchdata/shuffle_runB.json \
  && echo "paired statistic PASS" || echo "paired statistic FAIL"

step "shuffle drift run B vs run A (bar: 0 production-name flags)"
python3 - <<'PYEOF'
import json
ref = json.load(open('benchdata/shuffle_runA.json'))['queries']
cur = json.load(open('benchdata/shuffle_runB.json'))['queries']
flags = []
for q in sorted(set(ref) & set(cur)):
    rb, cb = ref[q]['shuffle_bytes'], cur[q]['shuffle_bytes']
    if rb == 0 and cb == 0:
        continue
    r = cb / rb if rb > 0 else float('inf')
    if r > 1.2 or r < 1 / 1.2:
        flags.append((q, rb, cb, round(r, 3)))
prod = [f for f in flags if not f[0].endswith('_audit')]
print(f"shuffle drift run B vs run A: {len(flags)} flagged "
      f"of {len(set(ref) & set(cur))}, {len(prod)} on production names "
      f"(bar: 0 production)")
for q, rb, cb, r in flags:
    tag = '' if q.endswith('_audit') else '  <- PRODUCTION'
    print(f"  {q}: {rb} -> {cb} bytes ({r}x){tag}")
pinned = ['q16_distinct_counts', 'q27_profile', 'ann_recall_curve',
          'dedup_jaccard', 'dedup_jaccard_prune_audit',
          'q23_percentiles', 'dedup_sorted_neighborhood',
          'dedup_sn_multipass']
bad = [q for q, *_ in flags if q in pinned]
print("pinned set drift-free" if not bad else f"PINNED SET FLAGS: {bad}")
PYEOF
