#!/bin/bash
# North-rule scaling evidence (BASELINE.md sandbox protocol): the full
# validation job, same deterministic input, at two parallelism levels N and
# 4N via spark-submit — for TWO row widths:
#   narrow: 2M rows x ~400 B   (stress per-row expression cost)
#   wide:   150k rows x ~33 KB (Common-Crawl-realistic decode-bound rows)
# Best-of-R per level (shared oversubscribed VM — see BENCH.md); executor
# CPU-time per row recorded as the hypervisor-noise-reduced work signal.
# A bare-decode control (DecodeProbe) is captured per round: no engine can
# beat the cost of decoding its input once, so the control's cpu/row
# inflation at 4N is the host floor the engine is graded against.
#
# Usage: tools/bench_scaling.sh [N] [REPEATS] [OUTDIR]
# Writes the rendered report to OUTDIR/scaling.md and prints it; BENCH.md
# is never overwritten (its header is this report, the rest is round
# evidence).
set -e
set -o pipefail
N=${1:-1}
N4=$((N * 4))
R=${2:-3}
OUT=${3:-/tmp/graft_scaling_r2}
JAR=target/scala-2.13/cerberusspark_2.13-0.1.0.jar

sbt -batch package >/dev/null

run() { # $1=threads $2=rows $3=pad $4=out
  # wide rows compress ~20x on disk: cap input splits so decoded partitions
  # stay bounded (columnar batch rows are capped inside ScalingBench)
  EXTRA=""
  if [ "$3" != "0" ]; then
    EXTRA="--conf spark.sql.files.maxPartitionBytes=16m"
  fi
  /opt/spark/bin/spark-submit --master "local[$1]" --driver-memory 20g \
    --conf spark.sql.shuffle.partitions="$1" \
    --conf spark.sql.session.timeZone=UTC \
    --conf spark.sql.adaptive.enabled=true \
    $EXTRA \
    --class graft.ScalingBench "$JAR" "$2" "$4" "$3" 2>"$4.err" | tail -1
  [ -s "$4" ] || { echo "RUN FAILED, stderr follows:"; cat "$4.err"; exit 1; }
}

decode() { # $1=threads $2=input $3=out
  # the control must read under the SAME reader config the engine runs
  # use (ScalingBench caps wide batches near 16 MB), or the floor includes
  # a GC component the engine doesn't have
  BATCH=4096
  case "$2" in *_w0_*) BATCH=4096 ;; *) BATCH=508 ;; esac
  /opt/spark/bin/spark-submit --master "local[$1]" --driver-memory 20g \
    --conf spark.sql.files.maxPartitionBytes=16m \
    --conf spark.sql.parquet.columnarReaderBatchSize=$BATCH \
    --class graft.tools.DecodeProbe "$JAR" "$2" 2>"$3.err" | tail -1 > "$3"
  [ -s "$3" ] || { echo "DECODE FAILED, stderr follows:"; cat "$3.err"; exit 1; }
  cat "$3"
}

mkdir -p "$OUT"
WIDE_IN=/tmp/graft_bench_pages_150000_w16384_seed42
NARROW_IN=/tmp/graft_bench_pages_2000000_w0_seed42
for i in $(seq "$R"); do
  TS=$(date +%s)
  echo "== round $i/$R (ts=$TS)"
  run "$N"  150000 16384  "$OUT/wide_n${N}_r${TS}.json"
  run "$N4" 150000 16384  "$OUT/wide_n${N4}_r${TS}.json"
  decode "$N"  "$WIDE_IN" "$OUT/decode_n${N}_r${TS}.json"
  decode "$N4" "$WIDE_IN" "$OUT/decode_n${N4}_r${TS}.json"
  run "$N"  2000000 0     "$OUT/narrow_n${N}_r${TS}.json"
  run "$N4" 2000000 0     "$OUT/narrow_n${N4}_r${TS}.json"
  decode "$N"  "$NARROW_IN" "$OUT/ndecode_n${N}_r${TS}.json"
  decode "$N4" "$NARROW_IN" "$OUT/ndecode_n${N4}_r${TS}.json"
done

python3 tools/scaling_report.py "$N" "$N4" "$OUT" > "$OUT/scaling.md"
cat "$OUT/scaling.md"
