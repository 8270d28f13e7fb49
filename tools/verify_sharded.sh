#!/bin/bash
# Sweep the full oracle registry in N parallel shards (default 4).
# Usage: tools/verify_sharded.sh [sf_dir] [N]
#
# A shard counts as green only if (a) its python process exited 0 AND
# (b) its log ends with the "N/N passed" summary line — a process that
# dies before printing any FAIL marker (Spark launch failure, OOM kill)
# must not pass a grep-for-FAIL check silently.
#
# Each shard is its own driver JVM. Unless SPARK_GRAFT_DRIVER_MEM is set,
# each gets MemTotal / (N+1) of heap, capped at 16g (the session's
# default), so N shards never ask for more memory than the host has.
set -u
SF="${1:-/root/testdata/sf0.01}"
N="${2:-4}"
DIR="$(mktemp -d)"
if [ -z "${SPARK_GRAFT_DRIVER_MEM:-}" ]; then
  MEM_MB=$(awk -v n="$N" '/^MemTotal:/ {m = int($2 / 1024 / (n + 1)); print (m < 16384 ? m : 16384)}' /proc/meminfo)
  export SPARK_GRAFT_DRIVER_MEM="${MEM_MB}m"
fi
PIDS=()
for i in $(seq 0 $((N-1))); do
  python "$(dirname "$0")/verify_local.py" "$SF" --shard "$i/$N" \
    > "$DIR/shard_$i.log" 2>&1 &
  PIDS+=($!)
done
FAIL=0
for i in $(seq 0 $((N-1))); do
  if ! wait "${PIDS[$i]}"; then
    FAIL=1
    echo "shard $i: python exited non-zero"
  fi
done
for i in $(seq 0 $((N-1))); do
  tail -1 "$DIR/shard_$i.log"
  grep -q "^FAIL" "$DIR/shard_$i.log" && { FAIL=1; grep "^FAIL" "$DIR/shard_$i.log"; }
  # require the completion summary ("X/X passed") in every shard log
  if ! grep -Eq '^[0-9]+/[0-9]+ passed' "$DIR/shard_$i.log"; then
    FAIL=1
    echo "shard $i: no completion summary — incomplete run"
  fi
done
echo "logs: $DIR"
exit $FAIL
