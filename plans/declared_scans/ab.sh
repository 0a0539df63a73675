#!/bin/bash
# Interleaved parent/change benchmark pairs, alternating which side runs
# first (odd seeds: parent first).
#   usage: ab.sh PARENT_DIR CHANGE_DIR OUT_DIR WORKLOAD SEED...
# Each run's result line lands in OUT_DIR/ab_<workload>_<base|new>_<seed>.json.
base=$1; new=$2; out=$3; w=$4; shift 4
for s in "$@"; do
  order="base new"; [ $((s % 2)) -eq 0 ] && order="new base"
  for side in $order; do
    dir=$base; [ $side = new ] && dir=$new
    (cd "$dir" && timeout 600 python3 perfbench/run.py --workload "$w" --seed "$s" \
        --seconds 14 --trace 0 2>/dev/null | tail -1 > "$out/ab_${w}_${side}_${s}.json")
  done
done
