#!/bin/bash
# End-of-round measurement block. Run it SEQUENTIALLY on a quiet box and
# never overlap it with sbt/package: a jar replaced under a running JVM
# kills it with "zip END header not found".
#
#   tools/measure.sh <label> <testdata dir holding sf0.01/ and sf0.1/>
#
# The label names the two bench sessions in tools/bench_history.tsv
# (SPARK_GRAFT_ROUND=<label>-s1 and <label>-s2), the committed session
# record tools/bench_<label>_s1.json and the scale-curve table
# tools/scale_curve_<label>.txt. Logs and session 2's record go to
# /tmp/measure_<label>/.
set -o pipefail
label=${1:?usage: tools/measure.sh <label> <testdata dir>}
data=${2:?usage: tools/measure.sh <label> <testdata dir>}
cd "$(dirname "$0")/.."
out=/tmp/measure_$label
mkdir -p "$out"
echo "== [1/6] full correctness gate (sf0.01) =="
SPARK_GRAFT_CPUS=8 tools/run.sh graft.Verify "$data/sf0.01" "$out/verify" \
  2>"$out/verify_err.txt" | tail -2
python3 tools/check.py "$data/sf0.01" "$out/verify" 2>&1 | tail -3
echo "== [2/6] demos =="
tools/run.sh graft.app.PipelineDemo 5000 2>/dev/null | tail -3; echo "PipelineDemo EXIT=$?"
tools/run.sh graft.app.StreamDemo 2000 3 2>/dev/null | tail -2; echo "StreamDemo EXIT=$?"
tools/run.sh graft.app.CorpusPipeline "$data/sf0.01" 2>/dev/null | tail -20; echo "CorpusPipeline EXIT=$?"
tools/run.sh graft.app.WarehouseDemo 2>/dev/null | tail -3; echo "WarehouseDemo EXIT=$?"
tools/run.sh graft.app.ExplainAudit 2>/dev/null | tail -3; echo "ExplainAudit EXIT=$?"
echo "== [3/6] bench sf0.1 session 1 =="
SPARK_GRAFT_SF_DIR="$data/sf0.1" SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_ROUND="$label-s1" SPARK_GRAFT_BENCH_OUT="tools/bench_${label}_s1.json" \
  tools/run.sh graft.Bench 2>"$out/bench_err.txt" | tail -1
echo "== [4/6] scale curve =="
SPARK_DRIVER_MEM=64g SPARK_GRAFT_SF_DIR="$data/sf0.1" SPARK_GRAFT_CPUS=32 \
  tools/run.sh graft.app.ScaleCurve 2>"$out/curve_err.txt" | tee "tools/scale_curve_$label.txt"
echo "CURVE_EXIT=$?"
echo "== [5/6] bench sf0.1 session 2 (same-binary spread) =="
SPARK_GRAFT_SF_DIR="$data/sf0.1" SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_ROUND="$label-s2" SPARK_GRAFT_BENCH_OUT="$out/bench_s2.json" \
  tools/run.sh graft.Bench 2>"$out/bench_err_s2.txt" | tail -1
echo "== [6/6] anchor-normalized drift report (s1 vs s2: should be quiet) =="
python3 tools/bench_drift.py "$label-s1" "$label-s2"
echo "DRIFT_EXIT=$?"
