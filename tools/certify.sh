#!/usr/bin/env bash
# One-command certification sweep (r17 VERDICT item 4): folds the
# round-17/18 certification entry points into a single gate so a
# regression in the recovery / spill / concurrency / iterative-exactness
# paths is caught mechanically, not by re-reading PLANS:
#
#   0. multi-JVM board          — full oracle board under
#                                 local-cluster[2,8,8192] (separate
#                                 executor JVMs), exact DuckDB hashes
#   1. fault_injection.sh       — 13 fault configurations (executor
#                                 SIGKILL batch/stream/stream-total under
#                                 local-cluster+RocksDB, driver halt ×3
#                                 kinds, batch-write tear ×4 variants)
#   2. SpillCertify             — 12/12 hash-identical under real spill
#                                 (100× blow-up, 1500m child heap,
#                                 local[4]: ≥300 MB per task slot — 8
#                                 slots at 1500m OOMs q5, measured r17)
#   2b. SpillCertify multi-JVM  — the same spill regime inside SEPARATE
#                                 1500m executor JVMs (spill ×
#                                 cross-process shuffle fetch composed).
#                                 Always run (the strongest resource
#                                 certification the repo has; ~14 min).
#   3. ConcurrentServe          — 8 queries × 2 waves concurrent == serial
#                                 at sf0.01 AND sf0.1
#   4. iterative_oracle.py      — exact union-find / kNN / PageRank
#                                 oracles over a fresh Verify dump of the
#                                 four iterative queries
#
#   tools/certify.sh [sfDir]        (default /root/testdata/sf0.01)
#
# Fast mode (r18 VERDICT item 7) for mid-round use after a risky
# refactor — NOT a substitute for the full gate at round boundaries:
#
#   CERTIFY_QUICK=1 tools/certify.sh
#
# runs the multi-JVM board at sf0.001, a 3-config fault smoke (executor
# kill batch + stream, batch-write tear), and the exact iterative
# oracles (~8-16 min by host load), skipping the 100× spill builds and the sf0.1
# concurrency stage.
#
# Exit 0 = every stage green; first failing stage aborts (set -e) with
# its own diagnostics on stderr. Runtime ~60-75 min cold (the 100× blow-up
# builds once into /tmp/graft-scale100 and is reused).
# NOTE: stages launch sbt runMain children that lazy-load classes from
# target/scala-2.13/classes — do not recompile while this runs.
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
QUICK=${CERTIFY_QUICK:-0}

if [ "$QUICK" = "1" ]; then
  SF_BOARD=/root/testdata/sf0.001
  echo "=== certify (QUICK) 0/2: full oracle board under local-cluster (multi-JVM, sf0.001) ==="
else
  SF_BOARD=$SF
  echo "=== certify 0/4: full oracle board under local-cluster (multi-JVM) ==="
fi
# Every closure serializes and every broadcast actually transfers in
# this mode (separate executor JVMs) — the one regime local[32] can
# never exercise. 219/219 hash-green first certified r18; standing
# stage so a driver-heap-sharing bug can't creep back in.
LC_OUT=$(mktemp -d /tmp/graft-certify-lc-XXXX)
SPARK_GRAFT_MASTER='local-cluster[2,8,8192]' \
SPARK_GRAFT_EXECUTOR_MEM=6g \
sbt -batch "runMain graft.Verify $SF_BOARD $LC_OUT"
python3 tools/selfcheck.py "$SF_BOARD" "$LC_OUT" --exact | tail -1 \
  | tee /dev/stderr | grep -q " 0 fail," \
  || { echo "certify: local-cluster board has failures"; exit 1; }
rm -rf "$LC_OUT"

if [ "$QUICK" = "1" ]; then
  echo "=== certify (QUICK) 1/2: fault smoke (3 configurations) + iterative oracles ==="
  SPARK_GRAFT_MASTER='local-cluster[2,8,8192]' \
  sbt -batch "runMain graft.tools.FaultInjection batch $SF 20260815"
  SPARK_GRAFT_MASTER='local-cluster[2,8,8192]' \
  sbt -batch "runMain graft.tools.FaultInjection stream $SF 20260815"
  sbt -batch "runMain graft.tools.FaultInjection batch-write $SF"
  ITER_OUT=$(mktemp -d /tmp/graft-certify-iter-XXXX)
  sbt -batch "runMain graft.Verify $SF $ITER_OUT d_dedup_clusters,d_cluster_keep_best,s_knn_graph,s_pagerank,d_ngram_jaccard,t_quality_score"
  python3 tools/iterative_oracle.py "$SF" "$ITER_OUT"
  rm -rf "$ITER_OUT"
  echo "certify QUICK: ALL STAGES GREEN (multi-JVM board sf0.001, fault smoke 3/3, iterative 4/4) — run the full sweep before a round boundary"
  exit 0
fi

echo "=== certify 1/4: fault-injection matrix (13 configurations) ==="
tools/fault_injection.sh "$SF"

echo "=== certify 2/4: spill certification (100x blow-up, 1500m child) ==="
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SPILL_BASE:-/root/testdata/sf0.1} \
sbt -batch "runMain graft.tools.SpillCertify --factor=100 --cpus=4"

# The same spill certification with the pressured side running as
# SEPARATE 1500m executor JVMs under local-cluster — spill +
# cross-process shuffle fetch composed.
echo "=== certify 2b/4: spill inside separate executor JVMs ==="
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SPILL_BASE:-/root/testdata/sf0.1} \
sbt -batch "runMain graft.tools.SpillCertify --factor=100 --cpus=4 --master=local-cluster[2,2,4096] --exec-mem=1500m"

echo "=== certify 3/4: concurrent serving (sf0.01 + sf0.1) ==="
sbt -batch "runMain graft.tools.ConcurrentServe $SF"
sbt -batch "runMain graft.tools.ConcurrentServe /root/testdata/sf0.1"

echo "=== certify 4/4: exact iterative oracles (union-find / kNN / PageRank) ==="
ITER_OUT=$(mktemp -d /tmp/graft-certify-iter-XXXX)
# the oracle consumes the four iterative dumps PLUS their inputs: the
# ngram pair graph (union-find edges) and the quality scores
# (keep-best tie-break key) — see iterative_oracle.py dump_path reads
sbt -batch "runMain graft.Verify $SF $ITER_OUT d_dedup_clusters,d_cluster_keep_best,s_knn_graph,s_pagerank,d_ngram_jaccard,t_quality_score"
python3 tools/iterative_oracle.py "$SF" "$ITER_OUT"
rm -rf "$ITER_OUT"

echo "certify: ALL STAGES GREEN (local-cluster board, fault 13/13, spill 12/12 single- AND multi-JVM, concurrent 2 corpora, iterative 4/4)"
