#!/usr/bin/env bash
# Pre-commit gate: never commit a tree that doesn't compile.
#
# Usage:
#   tools/preflight.sh                 # compile main+test sources, and the
#                                      # benchmark's build (fast)
#   tools/preflight.sh q_foo q_bar     # compile, then run Verify + DuckDB
#                                      # oracle compare for the named queries
#   tools/preflight.sh --all           # compile, then the full all-query gate
#
# Exit nonzero on any failure. Run this before EVERY commit that touches
# src/main — round 7 shipped an uncompilable snapshot because its final
# commit was never compiled.
set -euo pipefail
cd "$(dirname "$0")/.."

# Offline sbt: every dependency resolves from the local caches.
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

echo "[preflight] sbt Test/compile ..."
sbt -batch Test/compile

# perfbench/ is its own sbt project that compiles src/main/scala with its
# own sources, so a src/main change can break the benchmark's build while
# the root build still compiles.
echo "[preflight] perfbench sbt compile ..."
(cd perfbench && sbt -batch compile)

if [ $# -gt 0 ]; then
  SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"
  OUT=$(mktemp -d /tmp/preflight_out.XXXXXX)
  trap 'rm -rf "$OUT"' EXIT
  if [ "$1" = "--all" ]; then
    QUERIES=()
  else
    QUERIES=("$@")
  fi
  echo "[preflight] graft.Verify on $SF_DIR ..."
  sbt -batch "runMain graft.Verify $SF_DIR $OUT" > "$OUT/verify.log" 2>&1 || {
    grep "\[verify\]" "$OUT/verify.log" || tail -30 "$OUT/verify.log"
    exit 1
  }
  grep "\[verify\].*failed" "$OUT/verify.log" && exit 1
  echo "[preflight] DuckDB oracle compare ..."
  python3 tools/check.py "$OUT" "$SF_DIR" ${QUERIES[@]+"${QUERIES[@]}"}
fi
echo "[preflight] OK"
