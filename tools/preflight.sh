#!/usr/bin/env bash
# Preflight gate (VERDICT r3 #2): a red build must not ship silently.
# Runs the full ScalaTest+ScalaCheck suite, the benchmark's own unit
# tests, the sf0.01 correctness dump, the DuckDB oracle compare, and a
# source leak sweep, then writes
# PREFLIGHT.json with every component's outcome and a single "green"
# verdict. Exit code is nonzero when any component is red, so callers
# (the end-of-round snapshot, a pre-commit hook) can gate on it.
#
# Usage: tools/preflight.sh   (from anywhere; ~4 min warm)
set -u
cd "$(dirname "$0")/.."
ts_start=$(date -u +%Y-%m-%dT%H:%M:%SZ)

echo "[preflight] sbt test ..."
sbt -batch test >/tmp/preflight_test.log 2>&1
test_rc=$?
tests_line=$(grep -E "^\[info\] Tests: " /tmp/preflight_test.log | tail -1 \
  | sed 's/^\[info\] //')
props_line=$(grep -E "^\[info\] Passed: Total" /tmp/preflight_test.log | tail -1 \
  | sed 's/^\[info\] //')

echo "[preflight] perfbench unit tests ..."
# The benchmark compiles the program's library surfaces (CdcStream,
# Catalog, Pipeline, LogLines) into its own build; its listener test
# builds it, so a signature change that would break the benchmark turns
# this red. A skipped test (no sbt or SPARK_HOME) is red too: then the
# build was not checked.
python3 -m unittest discover -s perfbench -p 'test_*.py' \
  >/tmp/preflight_perfbench.log 2>&1
perfbench_rc=$?
perfbench_line=$(grep -E "^Ran [0-9]+ test" /tmp/preflight_perfbench.log | tail -1)
perfbench_status=$(grep -E "^(OK|FAILED)" /tmp/preflight_perfbench.log | tail -1)
if grep -qE "^OK \(.*skipped" /tmp/preflight_perfbench.log; then perfbench_rc=1; fi

echo "[preflight] Verify sf0.01 ..."
rm -rf /tmp/preflight_verify
SPARK_GRAFT_CPUS=$(nproc) sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 /tmp/preflight_verify" \
  >/tmp/preflight_verify.log 2>&1
verify_rc=$?
verify_errs=$(grep -c "^\[verify\] .* failed:" /tmp/preflight_verify.log)
# The gate's input: a digest of the oracle texts Verify dumped, so every
# recorded HEAD shows whether an oracle text changed.
oracle_sql_sha256=$(sha256sum /tmp/preflight_verify/oracle_sql.json 2>/dev/null | cut -d' ' -f1)
# The fork count Verify prints: declared queries that still keep a
# hand-written second oracle text (recorded only; no gate reads it).
two_text_entries=$(grep -oE "^\[verify\] oracle texts: [0-9]+, hand-written: [0-9]+" \
  /tmp/preflight_verify.log | grep -oE "[0-9]+$" | tail -1)

# The program's size in Scala lines (recorded only; no gate reads it),
# so every recorded HEAD carries the net src/main LOC.
src_main_lines=$(find src/main -name '*.scala' -exec cat {} + | wc -l)

echo "[preflight] DuckDB oracle compare ..."
python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/preflight_verify \
  >/tmp/preflight_oracle.log 2>&1
oracle_rc=$?
oracle_line=$(grep -E "^== " /tmp/preflight_oracle.log | tail -1)

echo "[preflight] leak sweep ..."
# Non-public references must never appear in shipped source: cloud bucket
# URIs, non-localhost URLs outside the public Apache/GitHub docs, AWS key
# ids, internal-looking hostnames, and hardcoded credentials.
leak_hits=$(grep -RInE \
  '(s3a?|gs|abfss?|wasbs?)://|AKIA[0-9A-Z]{16}|\.(corp|internal)\b|https?://(?!(www\.)?(apache\.org|github\.com|spark\.apache\.org|localhost))[a-z0-9]' \
  --include='*.scala' --include='*.sbt' --include='*.py' src build.sbt tools \
  -P 2>/dev/null | grep -v 'localhost' | wc -l)

green=false
if [ "$test_rc" = 0 ] && [ "$perfbench_rc" = 0 ] && [ "$verify_rc" = 0 ] \
   && [ "$verify_errs" = 0 ] && [ "$oracle_rc" = 0 ] && [ "$leak_hits" = 0 ]; then
  green=true
fi

cat > PREFLIGHT.json <<EOF
{
  "started": "$ts_start",
  "finished": "$(date -u +%Y-%m-%dT%H:%M:%SZ)",
  "git_head": "$(git rev-parse --short HEAD)",
  "sbt_test": {"rc": $test_rc, "summary": "$tests_line", "scalacheck": "$props_line"},
  "perfbench_unittest": {"rc": $perfbench_rc, "summary": "$perfbench_line; $perfbench_status"},
  "verify_sf001": {"rc": $verify_rc, "query_errors": $verify_errs},
  "oracle_sql_sha256": "$oracle_sql_sha256",
  "two_text_entries": ${two_text_entries:-null},
  "src_main_lines": $src_main_lines,
  "oracle": {"rc": $oracle_rc, "summary": "$oracle_line"},
  "leak_hits": $leak_hits,
  "green": $green
}
EOF
echo "[preflight] green=$green  ($tests_line; perfbench rc=$perfbench_rc; $oracle_line; leaks=$leak_hits)"
cat PREFLIGHT.json

# --commit: land the artifact as its own commit immediately, so the
# committed PREFLIGHT.json's git_head is always the parent of the
# commit that carries it (VERDICT r12 #2 — the r12 run was recorded
# only in prose because the rewritten artifact never got committed at
# the HEAD it described). The round-end preflight should run with this
# flag; the commit happens whether green or red (a red preflight is a
# result, not something to hide).
if [ "${1:-}" = "--commit" ]; then
  git add PREFLIGHT.json
  # Guard the success message on the commit actually landing (ADVICE r13
  # #3: an unchanged PREFLIGHT.json makes `git commit` fail, and the
  # unconditional echo then claimed a commit that never happened).
  if git commit -q -m "Preflight at $(git rev-parse --short HEAD): green=$green ($tests_line; $oracle_line; leaks=$leak_hits)" -- PREFLIGHT.json; then
    echo "[preflight] committed PREFLIGHT.json ($(git rev-parse --short HEAD))"
  else
    echo "[preflight] PREFLIGHT.json unchanged — nothing to commit"
  fi
fi
[ "$green" = true ]
