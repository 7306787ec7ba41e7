#!/bin/bash
# Oracle gate matrix: the full registry on every given scale, one
# GATE_<scale>_r<round>.log per scale in the checkout root, each compared
# with the previous round's log of the same scale.
#
# Usage: tools/run_gate_matrix.sh ROUND PREV SF_DIR...
#   ROUND   round number, written into each log's name and header
#   PREV    round to compare with: every PASS/ok? row's (name, rows, hash)
#           must equal its row in GATE_<scale>_r<PREV>.log (the [t s]
#           timing is ignored); the equal/differ/missing counts go into
#           the new log's header
#   SF_DIR  a scale's table directory; its basename names the scale
#           (sf0.01, sf1, ...). Relative paths resolve against the
#           checkout, e.g. .scale_data/sf1 from tools/make_scale_data.py.
#
# Exits non-zero if any scale has a failed query, a differing or missing
# row, or no GATE_<scale>_r<PREV>.log. The index root is
# SPARK_GRAFT_INDEX_DIR (default <checkout>/.ann_index); point it at an
# empty directory for a cold run. Each scale's stderr goes to
# ${TMPDIR:-/tmp}/gate_err_<scale>.log.
set -u
if [ $# -lt 3 ]; then
  sed -n 2,21p "$0"
  exit 2
fi
cd "$(dirname "$0")/.."
R="$1"
P="$2"
shift 2
NQ=$(python -c "from mapreduce_hadoop_spark import registry; print(len(registry.queries()))")
status=0

for d in "$@"; do
  sfdir=$(realpath "$d")
  label=$(basename "$sfdir")
  log="GATE_${label}_r${R}.log"
  prev="GATE_${label}_r${P}.log"
  body=$(mktemp)
  SPARK_GRAFT_SF_DIR="$sfdir" python tools/check_oracle.py > "$body" 2>"${TMPDIR:-/tmp}/gate_err_${label}.log"
  rc=$?
  if [ -f "$prev" ]; then
    counts=$(python -c '
import sys
from tools.check_oracle import compare_gate_logs
equal, differ, missing = compare_gate_logs(open(sys.argv[1]).read(), open(sys.argv[2]).read())
for q in differ: print("differ:", q, file=sys.stderr)
for q in missing: print("missing:", q, file=sys.stderr)
print(f"{equal} equal, {len(differ)} differ, {len(missing)} missing")
sys.exit(1 if differ or missing else 0)' "$prev" "$body") || rc=1
  else
    counts="no ${prev} to compare with"
    rc=1
  fi
  { echo "# ${label} gate, round ${R} (full registry, ${NQ} queries; vs ${prev}: ${counts})."; cat "$body"; } > "$log"
  rm -f "$body"
  tail -2 "$log"
  echo "== ${label} exit ${rc} (${counts})"
  [ "$rc" -eq 0 ] || status=1
done
exit "$status"
