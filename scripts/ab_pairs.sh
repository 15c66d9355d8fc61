#!/bin/bash
# Alternating same-window paired A/B of two trees, headline-only legs of
# the ROUND-START bench.py (identical file in both trees). Usage:
#   ab_pairs.sh <treeA> <treeB> <outdir> <tagA> <tagB> <npairs>
# Each leg writes <outdir>/ab_<tag>_pair<i>.json (the bench's two JSON
# lines). A leg whose bench.py exits non-zero or prints no JSON line
# writes {"failed": true, ...} instead and the script exits 1. A
# cal-kernel sample brackets every leg so window quality is recorded even
# if a contention burst lands mid-run.
set -u
TREEA=$1; TREEB=$2; OUT=$(readlink -f "$3"); TAGA=$4; TAGB=$5; N=$6
mkdir -p "$OUT"
cal() { python - <<'EOF'
import numpy as np, time
rng = np.random.default_rng(0)
a = rng.integers(0, 1 << 40, 3_000_000)
np.unique(np.sort(a))
t0 = time.time(); np.unique(np.sort(a)); print(round(time.time()-t0,3))
EOF
}
leg() { # $1 tree, $2 outfile; a failed leg aborts the run
  local c0 c1 rc
  c0=$(cal)
  (cd "$1" && SPARK_GRAFT_BENCH_SCALING=0 SPARK_GRAFT_BENCH_LATENCY150K=0 \
     SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
     python bench.py >"$2.out" 2>"$2.err")
  rc=$?
  c1=$(cal)
  if [ "$rc" -ne 0 ] || ! grep -qE '^\{' "$2.out"; then
    # an explicit marker, never an empty artifact a min-over-pairs
    # summary would silently fold in
    echo "{\"failed\": true, \"tree\": \"$1\", \"exit\": $rc, \"cal_before\": $c0, \"cal_after\": $c1}" > "$2"
    echo "leg $2 FAILED (bench.py exit $rc or no JSON line); see $2.err" >&2
    exit 1
  fi
  grep -E '^\{' "$2.out" > "$2"
  rm -f "$2.out"
  echo "{\"cal_before\": $c0, \"cal_after\": $c1}" >> "$2"
  echo "leg $2 cal $c0 -> $c1"
}
for i in $(seq 1 "$N"); do
  leg "$TREEA" "$OUT/ab_${TAGA}_pair${i}.json"
  leg "$TREEB" "$OUT/ab_${TAGB}_pair${i}.json"
done
