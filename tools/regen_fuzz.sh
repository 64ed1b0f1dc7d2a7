#!/bin/bash
# Re-runs every committed fuzz seed on all five differential legs under the
# current build, and the sqlite third-engine spot on the newest SQL seed.
#
#   tools/regen_fuzz.sh <out-dir> <testdata-dir>
#
# <testdata-dir> holds sf0.001, sf0.01 and sf0.1. The seed lists only grow:
# each round appends one fresh seed per leg (the last entry of each list).
#
# Writes the regen dir tools/assemble_fuzz_artifact.py reads: sql.jsonl,
# sql_compare.log, stream.jsonl, graph.jsonl, vector.jsonl, replay.jsonl,
# plus sqlite_spot.log. Each leg's stderr goes to <out-dir>/<leg>_<seed>.err.
set -u
D=${1:?usage: tools/regen_fuzz.sh <out-dir> <testdata-dir>}
T=${2:?usage: tools/regen_fuzz.sh <out-dir> <testdata-dir>}
mkdir -p "$D"
D=$(cd "$D" && pwd)
cd "$(dirname "$0")/.."

# seed:count:sf — SQL plans diffed against DuckDB
SQL="20260815:300:sf0.001 14141414:300:sf0.01 777000777:300:sf0.01 424242:200:sf0.1
  99000099:1000:sf0.01 31337:500:sf0.1 8151515:500:sf0.01 20260816:500:sf0.01
  20260817:500:sf0.01 20260818:500:sf0.01 20260819:500:sf0.01 20260820:500:sf0.01"
# seed:count — stream (sf0.001), graph, vector and replay legs
STREAM="909015:150 161616:120 16077016:120 17100:120 18200:120 19300:120"
GRAPH="909091:240 31415:120 123321:120 232425:120 181818:120 191919:120"
VECTOR="505050:105 271828:105 161803:105 414243:105 515253:105 616263:105"
REPLAY="17003:40 424243:40 181001:40 191001:40"

: > "$D/sql.jsonl"; : > "$D/sql_compare.log"
last_sql=""
for s in $SQL; do
  IFS=: read -r seed count sf <<< "$s"
  out="$D/sql_out_$seed"
  rm -rf "$out"
  sbt -batch -error "runMain graft.FuzzMain $seed $count $T/$sf $out" \
    2>"$D/sql_$seed.err" | grep '"seed"' >> "$D/sql.jsonl"
  echo "seed=$seed sf=$sf $(python3 tools/compare_oracle.py "$out" "$T/$sf" 2>>"$D/sql_$seed.err" | head -1)" \
    >> "$D/sql_compare.log"
  [ -n "$last_sql" ] && rm -rf "$last_sql"
  last_sql=$out
done

# sqlite third-engine triangle on the newest SQL seed's plans (expressible subset);
# it runs here so that no regeneration can skip it
python3 tools/sqlite_spot.py "$last_sql" "$T/sf0.01" 60 \
  > "$D/sqlite_spot.log" 2>&1 || { echo "SQLITE SPOT FAILED"; tail -5 "$D/sqlite_spot.log"; exit 1; }
tail -1 "$D/sqlite_spot.log"
rm -rf "$last_sql"

run_leg() { # leg main seeds args-after-count
  local leg=$1 main=$2 seeds=$3 rest=$4
  : > "$D/$leg.jsonl"
  for s in $seeds; do
    IFS=: read -r seed count <<< "$s"
    sbt -batch -error "runMain graft.$main $seed $count $rest" \
      2>"$D/${leg}_$seed.err" | grep '"seed"' >> "$D/$leg.jsonl"
  done
}
run_leg stream StreamFuzzMain "$STREAM" "$T/sf0.001"
run_leg graph GraphFuzzMain "$GRAPH" 6
run_leg vector VectorFuzzMain "$VECTOR" 6
run_leg replay ReplayFuzzMain "$REPLAY" 6

echo "REGEN DONE"
cat "$D/sql_compare.log"
tail -n +1 "$D"/{stream,graph,vector,replay}.jsonl 2>/dev/null | tail -30
