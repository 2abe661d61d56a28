#!/usr/bin/env bash
# Physical plans of some queries as they are at a given commit.
#
# Usage: tools/explain_ref.sh <git-ref> <out> <query>...
#
# Exports <git-ref> of this repository (`git archive`, so the checkout
# is untouched and nothing is registered in .git) into a fresh
# directory under ${TMPDIR:-/tmp}, builds it with sbt in offline mode,
# and writes `graft.Explain <query>...` to <out> (the JVM's stdout;
# sbt's and Spark's log goes to <out>.log). The export is removed
# afterwards, also on failure. The scale factor is the one
# graft.Explain reads, SPARK_GRAFT_SF_DIR.
#
# Plan A/B of a change against its parent, one query list:
#   tools/explain_ref.sh HEAD~1 /tmp/plans_parent.txt dq_psi dq_ks
#   tools/explain_ref.sh HEAD   /tmp/plans_change.txt dq_psi dq_ks
#   python3 tools/plan_diff.py /tmp/plans_parent.txt /tmp/plans_change.txt
set -euo pipefail

if [ "$#" -lt 3 ]; then
  echo "usage: $0 <git-ref> <out> <query>..." >&2
  exit 2
fi
ref=$1
out=$(realpath -m "$2")
shift 2

repo=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
sha=$(git -C "$repo" rev-parse --verify "$ref^{commit}")
dir=$(mktemp -d "${TMPDIR:-/tmp}/explain_ref.XXXXXX")
trap 'rm -rf "$dir"' EXIT

git -C "$repo" archive "$sha" | tar -x -C "$dir"
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
echo "explain_ref: $ref ($sha) -> $out" >&2
(cd "$dir" && sbt -batch "runMain graft.Explain $*") >"$out" 2>"$out.log"
