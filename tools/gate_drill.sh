#!/usr/bin/env bash
# Gate-sensitivity drill (r19 VERDICT item 3): prove, in one command,
# that the bench regression gate still catches a REAL slowdown and stays
# quiet on controls — keeping the gate honest as its thresholds evolve.
#
# What it does (the round-19 hand-built specimen, mechanized):
#   1. baseline focused run (9 queries, uninjected) against a FRESH
#      rolls file in /tmp — seeds the raw rollmin from THIS host's
#      current context, so controls are judged same-context-vs-
#      same-context (the repo's BENCH.out.json is never touched);
#   2. inject a deliberate ~5x slowdown into q_window_rank in the
#      WORKING TREE only (5x scan via union+distinct before the window —
#      plan-shape-realistic, result rows unchanged), recompile;
#   3. rerun --strict against the same /tmp rolls and assert:
#      q_window_rank is the top suspect at >=2x, ALL controls quiet;
#   4. revert the injection (git checkout) and recompile — a trap
#      guarantees the revert even when an assertion fails.
#
# Controls are the >=0.5s gate-eligible neighbours from the board
# (q_range_join, t_nb_classify, t_bpe_train, t_dsir_weight,
# d_embed_neardup, s_pagerank, t_tfidf_topk, q_custom_topk_agg).
# Sub-0.5s queries are suspect-exempt by design, so they would prove
# nothing here.
#
#   tools/gate_drill.sh          (~8-12 min; exit 0 = gate proven)
#
# NOTE: recompiles the working tree twice — do not run while a
# background sbt runMain child is mid-flight (shared target/ classes).
set -euo pipefail
cd "$(dirname "$0")/.."

TARGET=src/main/scala/graft/queries/RelationalQueries.scala
QUERIES="q_window_rank,q_range_join,t_nb_classify,t_bpe_train,t_dsir_weight,d_embed_neardup,s_pagerank,t_tfidf_topk,q_custom_topk_agg"

if [ -n "${SPARK_GRAFT_SF_DIR:-}" ] && [ "$SPARK_GRAFT_SF_DIR" != "/root/testdata/sf0.1" ]; then
  echo "gate_drill: SPARK_GRAFT_SF_DIR=$SPARK_GRAFT_SF_DIR is non-default — the"
  echo "gate disarms under a non-default corpus (rolls frozen). unset it." >&2
  exit 2
fi
if ! git diff --quiet -- "$TARGET"; then
  echo "gate_drill: $TARGET has uncommitted changes — refusing to inject" >&2
  exit 2
fi

ROLLS=$(mktemp -u /tmp/graft-drill-rolls-XXXX.json) # -u: run 1 must seed fresh
INJECTED=0
cleanup() {
  if [ "$INJECTED" = "1" ]; then
    echo "gate_drill: reverting injection + recompiling" >&2
    git checkout -- "$TARGET"
    sbt -batch compile >/dev/null 2>&1 || sbt -batch compile
  fi
  rm -f "$ROLLS"
}
trap cleanup EXIT

echo "=== gate_drill 1/3: baseline focused run (uninjected, fresh rolls) ==="
sbt -batch "runMain graft.Bench --out=$ROLLS $QUERIES" \
  2>&1 | grep -E '^\[bench\]' | sed 's/^/  /' | tail -15

echo "=== gate_drill 2/3: inject 5x slowdown into q_window_rank, recompile ==="
# the injected scan is 5 unioned copies + distinct: ~5x input work into
# the same window, identical output rows (o_orderkey is unique). 5x not
# 3x so the signal clears even a baseline that ran into a host burst:
# a 3x injection once read only 1.49x against such a baseline.
# NOTE the replacement must not START with a `{` block literal — Scala
# would glue it onto the preceding `.orderBy(...)` call as an argument
# list ("recursive value w needs type").
perl -0pi -e 's/\Q      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)\E/      val __b = t(s, dir, "orders")
      __b.union(__b).union(__b).union(__b).union(__b).distinct()
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)/' "$TARGET"
if git diff --quiet -- "$TARGET"; then
  echo "gate_drill: injection pattern did not match $TARGET — q_window_rank" >&2
  echo "changed shape; update the perl pattern in this script" >&2
  exit 2
fi
INJECTED=1
sbt -batch compile >/tmp/graft-drill-compile.log 2>&1 || {
  echo "gate_drill: injected code failed to compile — see" \
    "/tmp/graft-drill-compile.log" >&2
  exit 2
}

echo "=== gate_drill 3/3: injected --strict run against the same rolls ==="
rc=0
sbt -batch "runMain graft.Bench --strict --out=$ROLLS $QUERIES" \
  2>&1 | grep -E '^\[bench\]' | sed 's/^/  /' | tail -15 || true
# sbt swallows the forked exit code into a nonzero of its own; read the
# verdict from the record instead, which is what a round reader does.
# Three-way outcome: a MISSED injection is a gate failure (exit 1); a
# caught injection with noisy controls means a host burst crossed one
# of the two runs — inconclusive on the false-positive half, rerun on
# a quieter host (exit 3); both clean is the full PASS.
rc3=0
python3 - "$ROLLS" <<'EOF' || rc3=$?
import json, sys
r = json.load(open(sys.argv[1]))
sus = r.get("suspects", {})
if "q_window_rank" not in sus or sus["q_window_rank"] < 2.0:
    print(f"gate_drill: gate MISSED the injected ~5x regression "
          f"(suspects={sus}) — a REAL sensitivity failure", file=sys.stderr)
    sys.exit(1)
controls = {k: round(v, 2) for k, v in sus.items() if k != "q_window_rank"}
if max(sus, key=sus.get) != "q_window_rank":
    print(f"gate_drill: injected query is not the TOP suspect: {sus}",
          file=sys.stderr)
    sys.exit(1)
if controls:
    print(f"gate_drill: injection caught at {sus['q_window_rank']:.2f}x (top) "
          f"but controls flagged too ({controls}) — a host burst crossed "
          f"one of the runs; rerun on a quieter host for the "
          f"false-positive half", file=sys.stderr)
    sys.exit(3)
print(f"gate_drill: PASS — q_window_rank flagged at {sus['q_window_rank']:.2f}x, "
      f"all {len(r['queries']) - 1} controls quiet")
EOF
if [ "$rc3" != "0" ]; then exit "$rc3"; fi
echo "gate_drill: GREEN (injection caught, controls quiet, injection reverted)"
