#!/usr/bin/env bash
# Fault-injection harness (r15 VERDICT items 2 & 6): executor SIGKILL
# mid-batch and mid-stream under local-cluster (separate executor JVMs,
# RocksDB state store), plus a non-graceful driver halt mid-replay with
# checkpoint recovery. Asserts result hashes are unchanged by each fault.
#
#   tools/fault_injection.sh [sfDir] [seed]
#
# Runs batch+stream modes under local-cluster[2,8,8192]+RocksDB, then the
# crash mode (child JVM halt) under plain local[32]. Exit 0 = all pass.
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
SEED=${2:-20260815}

echo "== batch + stream executor-kill under local-cluster[2,8,8192] + RocksDB =="
SPARK_GRAFT_MASTER='local-cluster[2,8,8192]' \
sbt -batch "runMain graft.tools.FaultInjection batch $SF $SEED"
SPARK_GRAFT_MASTER='local-cluster[2,8,8192]' \
sbt -batch "runMain graft.tools.FaultInjection stream $SF $SEED"
SPARK_GRAFT_MASTER='local-cluster[2,8,8192]' \
sbt -batch "runMain graft.tools.FaultInjection stream-total $SF $SEED"

echo "== non-graceful driver halt + checkpoint recovery (RocksDB) =="
sbt -batch "runMain graft.tools.FaultInjection crash $SF"
sbt -batch "runMain graft.tools.FaultInjection crash-early $SF"
sbt -batch "runMain graft.tools.FaultInjection crash-session $SF"

echo "== batch-write tear: writer JVM halt(9) mid-df.write.parquet =="
sbt -batch "runMain graft.tools.FaultInjection batch-write $SF"

echo "fault injection: ALL PASS"
