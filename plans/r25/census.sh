#!/bin/bash
# One benchmark run under a JFR recording, for fork_census.py.
#
#   plans/r25/census.sh <out.jfr> <workload> <seed>     (from the repo root)
#
# The harness JVM ends with Runtime.halt, which skips JFR's dumponexit, so
# the recording is dumped by jcmd every 2 s and the last dump is kept: it
# misses at most the run's last 2 s (output check and shutdown).
out=$1; w=$2; seed=$3
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=name=census,settings=default" \
  python3 perfbench/run.py --workload "$w" --seed "$seed" --seconds 10 | tail -1 &
launcher=$!
pid=""
while kill -0 $launcher 2>/dev/null; do
  [ -z "$pid" ] && pid=$(pgrep -f "graftbench.Main $w" | head -1)
  if [ -n "$pid" ]; then
    jcmd "$pid" JFR.dump name=census filename="$out.tmp" >/dev/null 2>&1 &&
      mv "$out.tmp" "$out"
  fi
  sleep 2
done
wait $launcher
