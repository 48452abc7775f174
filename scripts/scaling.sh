#!/bin/bash
# One pinned graft.ScalingBench level (BENCH.md scaling methodology):
#
#   scripts/scaling.sh <tag> <cpus> [ScalingBench args...]
#
# - pinned to cores 0..cpus-1 with taskset (a faithful N-CPU host);
# - the SAME absolute heap at every level ($SPARK_DRIVER_MEM, default
#   14g): dedup state is cluster-total, not per-core;
# - ParallelGC with ParallelGCThreads = cpus;
# - a CONSTANT --state-partitions ($SP, default 24): Spark locks the
#   state-store partition count into the checkpoint, so a real N -> 4N
#   resize cannot change it; the per-batch MERGE shuffle follows the
#   level (--shuffle 3*cpus);
# - the JSON result line, prefixed with "tag" and "pinned":1, is appended
#   to $OUT (default SCALING.jsonl).
#
# Trailing args go to ScalingBench and override the defaults above
# (options parse as pairs: bare flags such as --no-dedup go LAST). The
# criterion is N vs 4N cores with interleaved samples, medians compared:
#
#   for s in 1 2 3; do
#     scripts/scaling.sh I-2v8 2 --convs 320000 --files-per-trigger 16
#     scripts/scaling.sh I-2v8 8 --convs 320000 --files-per-trigger 16
#   done
#
# Run nothing heavy alongside a pinned sample (host noise reaches 3x).
set -uo pipefail
cd "$(dirname "$0")/.."
[ $# -ge 2 ] || { sed -n '2,24p' "$0" >&2; exit 2; }
TAG="$1"; CPUS="$2"; shift 2
WORK=${WORK:-/dev/shm/graft-scaling}
OUT=${OUT:-SCALING.jsonl}
HEAP=${SPARK_DRIVER_MEM:-14g}
SP=${SP:-24}

echo "=== $TAG cpus=$CPUS heap=$HEAP sp=$SP $(date +%T) ===" >&2
SPARK_DRIVER_MEM=$HEAP \
JAVA_EXTRA="-XX:+UseParallelGC -XX:ParallelGCThreads=$CPUS" \
taskset -c 0-$(( CPUS - 1 )) \
scripts/run.sh graft.ScalingBench --cpus "$CPUS" --work "$WORK" \
  --state-partitions "$SP" --shuffle $(( 3 * CPUS )) "$@" \
  2>/dev/null | grep '^{"bench"' \
  | sed "s/^{/{\"tag\":\"$TAG\",\"pinned\":1,/" | tee -a "$OUT"
