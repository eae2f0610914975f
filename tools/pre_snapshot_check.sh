#!/bin/bash
# Pre-snapshot test guard (round 16, verdict ask 6).
#
# Round 15's only red came from committing a late rework in the
# end-of-round snapshot WITHOUT running its test: the grid-shrink cap and
# its strengthened plan lock landed in e323ae3 at 18:51, the driver ran
# Verify/Bench (both green) but never the suite, and HEAD sat at 330/331
# for a full round. This script is the discipline in-tree: run it before
# ANY snapshot / end-of-round commit, and paste its last line into the
# commit message so the snapshot records its own test state.
#
# Usage: tools/pre_snapshot_check.sh <base-rev>
#   base-rev is required: the commit the change at hand starts from, so
#   "what changed since base" is this change and nothing older. The check
#   is deliberately blunt: if ANY Scala source (main or test) changed
#   since base or is dirty in the working tree, the FULL suite runs —
#   suite-mapping heuristics are exactly the kind of cleverness that let
#   the round-15 escape happen. Test/compile runs regardless, so a
#   snapshot can never commit code that does not build.
set -u
cd "$(dirname "$0")/.."

USAGE="usage: tools/pre_snapshot_check.sh <base-rev>"
if [ $# -ne 1 ]; then echo "$USAGE" >&2; exit 2; fi
BASE=$1
if ! git rev-parse --verify -q "$BASE^{commit}" >/dev/null; then
  echo "not a commit: $BASE" >&2; echo "$USAGE" >&2; exit 2
fi

# Dirty-file detection (round-16 ADVICE): `git status --short | awk
# '{print $2}'` broke on renames ("R old -> new" printed the OLD path) and
# on paths with spaces, so a dirty .scala file could go undetected and the
# suite silently skipped — the exact escape this guard exists to prevent.
# `git diff --name-only` (tracked, incl. renames' NEW path) plus
# `git ls-files --others` (untracked) handles both.
CHANGED=$( (git diff --name-only "$BASE" -- '*.scala'; \
            git ls-files --others --exclude-standard -- '*.scala') 2>/dev/null | sort -u)

echo "[pre-snapshot] base: $(git log -1 --format='%h %s' "$BASE")"
echo "[pre-snapshot] changed scala files since base (incl. dirty):"
echo "${CHANGED:-  (none)}" | sed 's/^/  /'

echo "[pre-snapshot] sbt Test/compile ..."
if ! sbt -batch Test/compile >/tmp/pre_snapshot_compile.log 2>&1; then
  tail -30 /tmp/pre_snapshot_compile.log
  echo "SNAPSHOT-CHECK: FAIL (Test/compile) — do NOT snapshot"
  exit 1
fi

if [ -z "$CHANGED" ]; then
  echo "SNAPSHOT-CHECK: PASS (Test/compile green; no scala changes since $BASE, suite not required)"
  exit 0
fi

echo "[pre-snapshot] scala changed -> full suite (no mapping heuristics) ..."
if sbt -batch test >/tmp/pre_snapshot_test.log 2>&1; then
  LINE=$(grep -E "Tests: succeeded" /tmp/pre_snapshot_test.log | tail -1 | sed 's/\[info\] //')
  echo "SNAPSHOT-CHECK: PASS ($LINE)"
  exit 0
else
  grep -E "FAILED|Tests: succeeded" /tmp/pre_snapshot_test.log | tail -10
  echo "SNAPSHOT-CHECK: FAIL (suite red) — do NOT snapshot; fix or revert the failing change first"
  exit 1
fi
