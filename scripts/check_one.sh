#!/bin/bash
# Fast single-query oracle check: scripts/check_one.sh q1,q2 [sfDir]
# Runs graft.Verify on this checkout's cached classpath
# (scripts/classpath.sh) instead of through sbt, then compares the named
# queries with scripts/compare_timeout.py.
set -e
. "$(dirname "$0")/host_size.sh"
. "$(dirname "$0")/classpath.sh"
QS="$1"
SF="${2:-/root/testdata/sf0.01}"
OUT=/tmp/graft_one
java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM \
  -cp "$CP" graft.Verify "$SF" "$OUT" "$QS"
python3 "$(dirname "$0")/compare_timeout.py" --only "$QS" "$SF" "$OUT"
