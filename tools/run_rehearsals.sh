#!/bin/bash
# Run all five scale rehearsals (graph / curation / relational /
# embeddings / streaming). Each CHECKS its planted or closed-form
# expectations, prints one JSON line whose "checks" key is their
# conjunction, and exits non-zero when it is false; pipefail carries that
# status through the output filter, so the script stops at the first
# failing rehearsal and exits non-zero. Sizes are the SCALE.md-documented
# defaults; pass smaller ones for a smoke run:
#   tools/run_rehearsals.sh [graphNodes] [textDocs] [relRows] [embVecs] [streamEvents]
set -eo pipefail
cd "$(dirname "$0")/.."
GN=${1:-50000000}
TD=${2:-1000000}
RR=${3:-50000000}
EV=${4:-2000000}
SE=${5:-10000000}
# copyResources too: a bare `compile` leaves META-INF/services out of the
# classes dir and the bvgraph short name would fail to resolve
sbt -batch compile Compile/copyResources 2>&1 | grep -E 'error|success'
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
run() {
  # 96g: the 50M-node rehearsal holds multiple checkpointed 50M-row
  # generations (hyperball sketches = 16 longs/node) alongside the
  # ~250M-arc working set, and the long-id section carries a second full
  # graph — 48g OOM'd mid-run; ScaleRehearsal also defaults
  # shuffle.partitions to 4x cores so per-task hash tables stay bounded
  java $ADD_OPENS -Xmx96g \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@" 2>/dev/null \
    | grep -E '^\{'
}
echo "== graph (ScaleRehearsal $GN nodes) =="
run graft.ScaleRehearsal "$GN"
echo "== curation (TextScaleRehearsal $TD docs) =="
run graft.TextScaleRehearsal "$TD"
echo "== relational (RelationalScaleRehearsal $RR rows) =="
run graft.RelationalScaleRehearsal "$RR"
echo "== embeddings (EmbedScaleRehearsal $EV vectors) =="
run graft.EmbedScaleRehearsal "$EV"
echo "== streaming (StreamScaleRehearsal $SE events) =="
run graft.StreamScaleRehearsal "$SE"
