#!/bin/bash
# Oracle gate matrix: the full registry on every given scale, one
# GATE_<scale>_r<round>.log per scale in the checkout root.
#
# Usage: tools/run_gate_matrix.sh ROUND NOTE SF_DIR...
#   ROUND   round number, written into each log's name and header
#   NOTE    one line describing the tree under test, copied into headers
#   SF_DIR  a scale's table directory; its basename names the scale
#           (sf0.01, sf1, ...). Relative paths resolve against the
#           checkout, e.g. .scale_data/sf1 from tools/make_scale_data.py.
#
# The index root is SPARK_GRAFT_INDEX_DIR (default <checkout>/.ann_index);
# point it at an empty directory for a cold run. Each scale's stderr goes
# to ${TMPDIR:-/tmp}/gate_err_<scale>.log.
set -u
if [ $# -lt 3 ]; then
  sed -n 2,14p "$0"
  exit 2
fi
cd "$(dirname "$0")/.."
R="$1"
NOTE="$2"
shift 2
NQ=$(python -c "from mapreduce_hadoop_spark import registry; print(len(registry.queries()))")

for d in "$@"; do
  sfdir=$(realpath "$d")
  label=$(basename "$sfdir")
  log="GATE_${label}_r${R}.log"
  echo "# ${label} gate, round ${R} (full registry, ${NQ} queries; ${NOTE})." > "$log"
  SPARK_GRAFT_SF_DIR="$sfdir" python tools/check_oracle.py >> "$log" 2>"${TMPDIR:-/tmp}/gate_err_${label}.log"
  rc=$?
  tail -2 "$log"
  echo "== ${label} exit ${rc}"
done
