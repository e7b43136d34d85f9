#!/usr/bin/env bash
# Compile gate: run before EVERY commit. An un-compilable snapshot zeroes
# the round's whole correctness signal (see VERDICT round 6), so refuse
# to proceed unless main + test sources compile.
#
# PRECOMMIT_SMOKE=1 additionally runs every registered query at
# sf0.001 (QueriesSpec, ~90 s) — catches runtime breaks (bad column
# refs, unresolvable plans) that compile alone cannot — plus the specs
# that pin the shared df-capped co-count engine's invariants across
# queries (CrossOperatorConsistencySpec, ScaleGuardsSpec,
# ContainmentSpec), the local file system and upsert sink specs
# (LocalFsSpec, UpsertSinkSpec), the latest-wins compaction specs
# (LatestWinsTieBreakSpec, IvmSpec), the session memo specs
# (GraftSessionMemoSpec, HierAssignSpec, ConfParitySpec), the AVI
# video codec specs (RleSpec, McSpec, GopSpec, XfSpec, DemuxSpec,
# CodecPropertiesSpec, VideoCodecContractSpec), and the streaming
# specs that commit through the upsert sink (TxnSnapshotStreamSpec,
# CdcStreamSpec, StreamingConnectorE2ESpec, IvmConnectorE2ESpec), and
# the native-kernel specs (KernelContractSpec, TextExpressionsSpec,
# GraftFunctionsSpec, GraftExtensionsSpec, WinnowSpec, PiiScrubSpec,
# AuditBaselineSpec, PlanGuardsSpec), and the vector-family specs that
# rest on the nearest-anchor decision (NearestAnchorSpec, AnnIvfSpec,
# AnnIvfCompactedSpec, AnnIvfPqSpec, AnnIvfHierPqSpec, AnnPqSpec,
# AnnSq8Spec, SemDedupSpec, PrototypesSpec, KmeansSpec,
# IvfRebalanceSpec, KnnClassifySpec, IvfAssignStreamSpec), and the
# specs of the loops on the one loop driver (CheckpointModeSpec,
# TextrankSpec, BpeSpec, QualityLrSpec, QualityLrNgramSpec). Use
# before END-OF-ROUND snapshots and after touching query plumbing.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch Test/compile >/tmp/precommit.log 2>&1 || {
  echo "PRECOMMIT FAIL: Test/compile broken — do not commit." >&2
  tail -n 40 /tmp/precommit.log >&2
  exit 1
}
echo "PRECOMMIT OK: Test/compile green."

# Lineage-cut gate: every pin and loop cut in graft.operators goes
# through operators/package.scala (`materialize`, the `iterate` loop
# driver and its `Loop.cut`), which also owns every cache a loop holds,
# so no other operator file may checkpoint, persist or unpersist.
if grep -rnF --include='*.scala' -e 'localCheckpoint(' -e 'checkpoint(' -e '.persist(' -e 'unpersist(' \
    src/main/scala/graft/operators/ | grep -v '^src/main/scala/graft/operators/package\.scala:' >&2; then
  echo "PRECOMMIT FAIL: cut or cache above bypasses operators/package.scala — pin with materialize, or run the loop on operators.iterate." >&2
  exit 1
fi
echo "PRECOMMIT OK: every operator pin, loop cut and loop cache goes through operators/package.scala."

# Latest-wins gate: the "newest change per key" window lives only in
# operators.newestPerKey (operators/package.scala), so no other main
# source may order a window by ts_ns/last_ts_ns descending.
if grep -rnF --include='*.scala' -e 'orderBy(col("ts_ns").desc' -e 'orderBy(col("last_ts_ns").desc' \
    src/main/scala/ | grep -v '^src/main/scala/graft/operators/package\.scala:' >&2; then
  echo "PRECOMMIT FAIL: latest-wins window above bypasses operators.newestPerKey — route it through the helper." >&2
  exit 1
fi
echo "PRECOMMIT OK: every latest-wins compaction goes through operators.newestPerKey."

# Session-memo gate: every session-scoped artifact cache is
# GraftSession.memo, so no other main source may key a map by the
# session's hash code or hold sessions in a WeakHashMap.
if grep -rnF --include='*.scala' -e 'hashCode()}|' -e 'WeakHashMap[' \
    src/main/scala/ | grep -v '^src/main/scala/graft/GraftSession\.scala:' >&2; then
  echo "PRECOMMIT FAIL: session-scoped cache above bypasses GraftSession.memo — route it through the helper." >&2
  exit 1
fi
echo "PRECOMMIT OK: every session-scoped artifact cache goes through GraftSession.memo."

# Video decode gate: the strf BITMAPINFOHEADER check and the idx1
# keyframe seek live only in multimodal/Avi.scala (Avi.checkStrf,
# Avi.decodeSeek), so no other main source may carry their messages.
if grep -rnF --include='*.scala' -e 'missing or truncated strf' -e 'no keyframe at or before' \
    src/main/scala/ | grep -v '^src/main/scala/graft/multimodal/Avi\.scala:' >&2; then
  echo "PRECOMMIT FAIL: video container check above bypasses the shared path in Avi.scala — route it through Avi.readVideo/Avi.decodeSeek." >&2
  exit 1
fi
echo "PRECOMMIT OK: every AVI video codec goes through the shared strf check and idx1 seek in Avi.scala."

# Native-kernel gate: a Catalyst kernel is a static method reached
# through StaticInvoke (plans/Kernel.scala), so no main source may
# hand-write generated Java: no doGenCode or nullSafeCodeGen body.
if grep -rnE --include='*.scala' -e 'doGenCode|nullSafeCodeGen' src/main/scala/ >&2; then
  echo "PRECOMMIT FAIL: hand-written codegen above bypasses the native-kernel shape — write the kernel once and reach it through plans.Kernel." >&2
  exit 1
fi
echo "PRECOMMIT OK: every native kernel reaches codegen through StaticInvoke."

# Nearest-anchor gate: the vector family's cell decision (highest
# rounded score, ties to the lowest cell) lives only in
# operators/NearestAnchor.scala, so no other main source may negate a
# cell score into an argmax or top-k key.
if grep -rnF --include='*.scala' -e 'negate(col("ccos"))' -e 'negate(col("gc"))' \
    src/main/scala/ | grep -v '^src/main/scala/graft/operators/NearestAnchor\.scala:' >&2; then
  echo "PRECOMMIT FAIL: cell decision above bypasses operators.NearestAnchor — route it through the helper." >&2
  exit 1
fi
echo "PRECOMMIT OK: every nearest-anchor cell decision goes through operators.NearestAnchor."

# Bench gate (round-12 lesson: q_winnow_dedup reached the registry
# without ever being benched and shipped a 615 s plan): every
# registered query must have a per-query entry in bench_queries.json —
# after ANY registry change, re-run `tools/run.sh graft.Bench` at
# sf0.1 (and tools/curve.sh for the new queries) before committing.
# bench_queries.json is a local, git-ignored output; a checkout without
# one reads the committed round baseline.
tools/run.sh graft.ListQueries > /tmp/registry_names.txt
python3 - <<'EOF' || { echo "PRECOMMIT FAIL: bench gate — re-run graft.Bench (and curve.sh for new queries) before commit." >&2; exit 1; }
import json, os, sys
reg = set(open("/tmp/registry_names.txt").read().split())
path = "bench_queries.json"
if not os.path.exists(path):
    path = "artifacts/BENCH_LOCAL_r20_baseline.json"
print("bench gate reads", path)
bench = json.load(open(path)).get("queries", {})
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
  sbt -batch "testOnly graft.QueriesSpec graft.operators.CrossOperatorConsistencySpec graft.operators.ScaleGuardsSpec graft.operators.ContainmentSpec graft.LocalFsSpec graft.UpsertSinkSpec graft.operators.LatestWinsTieBreakSpec graft.operators.IvmSpec graft.GraftSessionMemoSpec graft.operators.HierAssignSpec graft.ConfParitySpec graft.multimodal.RleSpec graft.multimodal.McSpec graft.multimodal.GopSpec graft.multimodal.XfSpec graft.multimodal.DemuxSpec graft.multimodal.CodecPropertiesSpec graft.multimodal.VideoCodecContractSpec graft.TxnSnapshotStreamSpec graft.CdcStreamSpec graft.StreamingConnectorE2ESpec graft.IvmConnectorE2ESpec graft.plans.KernelContractSpec graft.plans.TextExpressionsSpec graft.GraftFunctionsSpec graft.GraftExtensionsSpec graft.operators.WinnowSpec graft.operators.PiiScrubSpec graft.AuditBaselineSpec graft.PlanGuardsSpec graft.operators.NearestAnchorSpec graft.operators.AnnIvfSpec graft.operators.AnnIvfCompactedSpec graft.operators.AnnIvfPqSpec graft.operators.AnnIvfHierPqSpec graft.operators.AnnPqSpec graft.operators.AnnSq8Spec graft.operators.SemDedupSpec graft.operators.PrototypesSpec graft.operators.KmeansSpec graft.operators.IvfRebalanceSpec graft.operators.KnnClassifySpec graft.IvfAssignStreamSpec graft.operators.CheckpointModeSpec graft.operators.TextrankSpec graft.operators.BpeSpec graft.operators.QualityLrSpec graft.operators.QualityLrNgramSpec" \
      >/tmp/precommit_smoke.log 2>&1 || {
    echo "PRECOMMIT FAIL: smoke specs broken — do not commit." >&2
    tail -n 40 /tmp/precommit_smoke.log >&2
    exit 1
  }
  echo "PRECOMMIT OK: all registered queries run at sf0.001; co-count engine, local file system, upsert sink, latest-wins, session memo, video codec, streaming sink, native-kernel, vector-family and loop-driver specs green."
fi
