#!/usr/bin/env bash
# Round-14 sf100 TPC-H bench protocol (verdict item 1). Runs the 22 TPC-H
# defaults + every TPC-H layout twin at target/sf100 with the SAME
# methodology as the driver bench (noop sink, median of N, untimed warmup,
# calibration + drift gate), via run_main.sh so the driver JVM is pinned at
# -Xmx96g (the round-13 attempts that died of execution-memory OOM in the
# q18/q21 sorts ran on the 8 g build.sbt default). 3 timed runs per query is
# the documented sf100 override (round 10).
set -euo pipefail
cd /root/repo
TWINS="k02_bucketed_join,k03_bucketed_q21,k04_bucketed_q18,k05_bucketed_q04"
TWINS+=",k08_staged_q11,k10_bucketed_q13,k11_staged_q02,k12_bucketed_q12"
TWINS+=",k14_bucketed_q10,k15_fused_q15,k16_staged_q01"
TWINS+=",k19_denorm_q05,k20_denorm_q07,k21_denorm_q03"
TWINS+=",k22_denorm_q06,k23_denorm_q09,k24_denorm_q10,k25_denorm_q08"
TWINS+=",k26_denorm_q14,k27_bucketed_q22"
TWINS+=",k30_fused_q17,k31_fused_q20,k36_pairs_q16"
HQ=$(printf "tpch_q%02d," $(seq 1 22))
export SPARK_GRAFT_SF_DIR=target/sf100
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
export SPARK_GRAFT_BENCH_RUNS=3
export SPARK_GRAFT_BENCH_ONLY="${HQ}${TWINS}"
exec scripts/run_main.sh graft.Bench
