#!/bin/bash
# Quiet-box three-point scaling run: sf0.1 -> sf1 -> sf10, two full
# passes each (Bench keeps min per query), traces committed and merged
# into BENCH_SCALING_r{N}.json. Run ONLY with nothing else on the box
# (no DuckDB compare, no parallel sbt).
set -e
cd /root/repo
R=${1:?round tag, e.g. r08}
run () {
  local dir=$1 label=$2 mem=$3 logp=$4
  SPARK_DRIVER_MEM=$mem SPARK_GRAFT_SF_DIR=$dir SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_PASSES=2 \
  SPARK_GRAFT_JAVA_OPTS="-Dspark.graft.logPartitions=$logp" \
  SPARK_GRAFT_TRACE_OUT=BENCH_TRACE_${label}_${R}.txt \
  sbt -batch "runMain graft.Bench" > /tmp/bench_${label}_${R}.log 2>&1
  grep '"metric"' /tmp/bench_${label}_${R}.log | tail -1
}
# moderate heaps on purpose: a 96g heap let garbage pile up between
# GCs and inflated heavy queries even with the between-query hygiene.
# logPartitions scales with SF (a 10x bigger topic has 10x the
# partitions, exactly how a Kafka topic is provisioned), so the evt
# family's offset-assignment sort stays per-partition-sized — the
# oracle partitioner is key mod P, replayable at any P.
run /root/testdata/sf0.1      sf0.1 8g  8
run /root/repo/bench-data/sf1 sf1   16g 32
run /root/repo/bench-data/sf10 sf10 48g 128
python3 tools/mergescaling.py BENCH_SCALING_${R}.json \
  BENCH_TRACE_sf0.1_${R}.txt sf0.1 \
  BENCH_TRACE_sf1_${R}.txt sf1 \
  BENCH_TRACE_sf10_${R}.txt sf10
