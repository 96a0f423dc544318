#!/usr/bin/env bash
# One-command adjudication of a red CORRECTNESS row: run the named
# queries through the real SparkEntry surface, dump parquet + oracle
# SQL, execute the oracle in DuckDB over the same fixtures, and print a
# per-row diff + per-column canonical hash on any mismatch.
#
#   tools/adjudicate.sh 'q112.*' [sfDir]
#
# Exit 0 = the Scala answer matches the oracle on this machine (a red
# driver row is then a harness/environment divergence); exit 1 = real
# mismatch, with the differing columns/rows printed.
set -euo pipefail
cd "$(dirname "$0")/.."
rx="${1:?usage: tools/adjudicate.sh <queryRegex> [sfDir]}"
sf="${2:-/root/testdata/sf0.01}"
out="$(mktemp -d /tmp/adjudicate.XXXXXX)"
trap 'rm -rf "$out"' EXIT
# Capture the run first and check its exit status separately, so a
# Verify crash surfaces as a run failure instead of masquerading as
# "no query matched" under pipefail.
runlog="$out/verify.log"
st=0
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" ./run_local.sh \
    graft.Verify "$sf" "$out" "$rx" >"$runlog" 2>&1 || st=$?
if [ "$st" -ne 0 ]; then
  echo "Verify FAILED (exit $st); last 30 lines:"; tail -30 "$runlog"; exit 3
fi
# oracle_sql.json lists the matched gates; an empty object = no match
if [ "$(cat "$out/oracle_sql.json")" = "{}" ]; then
  echo "no query matched regex '$rx' (note: full-match semantics)"; exit 2
fi
grep '\[verify\]' "$runlog" || true
python3 tools/compare_oracle.py "$sf" "$out" --detail --max-rows=20
