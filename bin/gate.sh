#!/bin/bash
# Correctness gate for a change that can reach registry queries.
#
#   1. graft.Verify dumps every registered query over the sf0.01 tables, and
#      bin/compare.py replays each query's DuckDB oracle over the same tables.
#      Any FAIL, and any SKIP (a query whose dump is missing, e.g. because it
#      threw in Verify), fails the gate.
#   2. graft.SelfCheck hashes the queries that have no oracle; its output must
#      be byte-identical to SELFCHECK_r5.json.
#
# Usage: bin/gate.sh [sfDir]   (default: perfbench/data/sf0.01)
# Exits 0 only when both steps pass. Needs sbt (honours SBT_OPTS and
# SPARK_GRAFT_CPUS) and python3 with duckdb.
set -euo pipefail
cd "$(dirname "$0")/.."
SF="$(realpath "${1:-perfbench/data/sf0.01}")"
BASELINE=SELFCHECK_r5.json
OUT="$(mktemp -d)"
trap 'rm -rf "$OUT"' EXIT

fail() { echo "[gate] FAIL: $*" >&2; exit 1; }
[ -d "$SF" ] || fail "no tables at $SF"
[ -f "$BASELINE" ] || fail "missing $BASELINE"

sbt -batch "runMain graft.Verify $SF $OUT/verify" || fail "graft.Verify exited nonzero"
[ -f "$OUT/verify/oracle_sql.json" ] || fail "graft.Verify wrote no oracle_sql.json"
python3 bin/compare.py "$SF" "$OUT/verify" | tee "$OUT/compare.log" \
  || fail "bin/compare.py reported a mismatch"
grep -Eq '^\[compare\] PASS [1-9][0-9]*, FAIL 0, SKIP 0$' "$OUT/compare.log" \
  || fail "bin/compare.py skipped or failed a query"

sbt -batch "runMain graft.SelfCheck $SF $OUT/selfcheck.json $BASELINE" \
  || fail "graft.SelfCheck reported drift or an error"
cmp "$BASELINE" "$OUT/selfcheck.json" || fail "SelfCheck output differs from $BASELINE"

echo "[gate] PASS: $(grep -E '^\[compare\] PASS' "$OUT/compare.log"); SelfCheck identical to $BASELINE"
