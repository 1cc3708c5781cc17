#!/bin/bash
# The MATERIALIZATION GATE (SURVEY round-13 notes): before committing any
# operator rewrite, dump the touched queries and hash-compare against the
# DuckDB oracle. Bench's count() lets Catalyst prune unevaluated
# projection columns, so a bench run alone cannot validate a rewrite —
# the dump materializes every column (the r12 q58 lesson).
#
# Usage: tools/gate.sh q58,q75 [sf_dir]      (default sf_dir: sf0.01)
set -e
cd "$(dirname "$0")/.."
QUERIES="${1:?usage: tools/gate.sh qNN[,qNN...] [sf_dir]}"
SF="${2:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft-gate.XXXXXX)"
# the dump goes when the gate passes; on a failure it stays, with
# Verify's stderr in verify.log
trap '[ $? -ne 0 ] || rm -rf "$OUT"' EXIT
SPARK_GRAFT_ONLY="$QUERIES" tools/dev.sh graft.Verify "$SF" "$OUT" 2>"$OUT/verify.log" || {
  echo "gate: graft.Verify failed; the tail of $OUT/verify.log:" >&2
  tail -n 40 "$OUT/verify.log" >&2
  exit 1
}
python3 tools/check.py "$OUT" "$SF"
