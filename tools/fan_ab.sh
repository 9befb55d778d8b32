#!/bin/bash
# Fan-vs-nofan A/B under induced CPU load (r16 verdict #3/#4).
# Alternates FAN/NOFAN single-suite Bench runs over the target queries
# while tools/load.sh spinners emulate a hot driver window, so both
# arms see the same contention in expectation. Each Bench invocation
# reports min-of-2-interleaved-reps per query; we run R rounds per arm.
# Arms alternate their order: FAN runs first in odd rounds, NOFAN first
# in even rounds, so neither arm always takes the first (coldest) slot.
# Usage: [SPARK_GRAFT_CPUS=n] tools/fan_ab.sh [rounds] [spinners] [query...]
# SPARK_GRAFT_CPUS (default 32) sets Bench's local[n] and shuffle width;
# spinners=0 runs both arms unloaded.
set -u
R=${1:-2}
SPIN=${2:-16}
# shift only what exists: `shift 2` with one arg is a no-op in bash and
# would leak the rounds value into QUERIES (review r17)
[ $# -ge 1 ] && shift
[ $# -ge 1 ] && shift
QUERIES=${*:-"tc3_memorization_probe d4_jaccard_pairs d22_containment_pairs d10_semantic_dedup"}
CPUS=${SPARK_GRAFT_CPUS:-32}
cd "$(dirname "$0")/.." || exit 1
# Spinners are RE-ARMED per arm (ADVICE r17): one up-front spawn with an
# estimated duration expired mid-sequence whenever a Bench run overran
# the estimate, so later arms ran quiet while earlier ones ran loaded —
# breaking the equal-contention-in-expectation property this script
# exists to guarantee. 3600 s per spawn comfortably outlives any single
# Bench invocation; pkill after each arm bounds the overhang.
first=1
for r in $(seq "$R"); do
  if [ $((r % 2)) = 1 ]; then ARMS="FAN NOFAN"; else ARMS="NOFAN FAN"; fi
  for arm in $ARMS; do
    if [ "$arm" = NOFAN ]; then export SPARK_GRAFT_NOFAN=1; else unset SPARK_GRAFT_NOFAN; fi
    if [ "$SPIN" -gt 0 ]; then
      tools/load.sh "$SPIN" 3600
      # let the 1-min load average climb before the first arm only: the
      # CPU contention itself is instant (what the timing sees); the
      # climb wait is so the RECORDED load field shows the heat
      if [ "$first" = 1 ]; then sleep 45; first=0; else sleep 5; fi
    fi
    echo "=== round $r arm $arm load=$(cut -d' ' -f1 /proc/loadavg)"
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=$CPUS \
      sbt -batch "runMain graft.Bench $QUERIES" 2>&1 | grep '"metric"'
    pkill -f GRAFT_SPIN
  done
done
echo "=== done; spinners killed"
