#!/usr/bin/env bash
# A/B runner: snapshot the CURRENT compiled classes, then run the
# filtered probe-protocol bench (minimal warm-up, single pass) from
# the frozen snapshot, 3 reps x {sf1, sf0.1}, so a recompile during
# the run cannot change what is measured. Run it once per side of the
# comparison, each with its own tag. Spark runs on every CPU `nproc`
# reports. Usage:
#   scripts/ab.sh <tag> <query...>
# Output: /tmp/ab_<tag>_{sf1,sf0.1}_{1,2,3}.json
set -uo pipefail
cd "$(dirname "$0")/.."
TAG="${1:?usage: scripts/ab.sh <tag> <query...>}"; shift
SNAP="/tmp/ab_classes_$TAG"
rm -rf "$SNAP"
mkdir -p "$SNAP/target/scala-2.13" "$SNAP/scripts"
cp -r target/scala-2.13/classes "$SNAP/target/scala-2.13/"
cp scripts/java_bench.sh "$SNAP/scripts/"
export SPARK_GRAFT_WARMUP_NAMES="text_stats,ev_type_stats,q0_scan,mm_meta"
export SPARK_GRAFT_CPUS="$(nproc)"
for rep in 1 2 3; do
  for sf in "$PWD/benchdata/sf1" /root/testdata/sf0.1; do
    t=$(basename "$sf")
    SPARK_GRAFT_SF_DIR=$sf "$SNAP/scripts/java_bench.sh" graft.Bench "$@" \
      2>/dev/null | tail -2 | head -1 > "/tmp/ab_${TAG}_${t}_${rep}.json"
    echo "done $TAG $t rep $rep"
  done
done
echo ALL_DONE
