#!/usr/bin/env bash
# Paired A/B interleave bench — the weather adjudicator as a first-class
# artifact (round-16 verdict item 6). Cross-window bench comparisons are
# contaminated by host-load "weather" (this container swings single-query
# wall-times 2-3x minute to minute), so regressions are adjudicated by
# rebuilding the PREVIOUS round's binary from a fresh `git archive` of
# its commit and running prev/cur ALTERNATELY on the SAME slice data
# within one window: weather hits both sides equally and the paired
# per-query ratios are honest.
#
# Usage: tools/interleave.sh <prev-ref> <sf-dir> <out-json> <rounds> <query...>
#   prev-ref  git ref of the previous round's final commit
#   sf-dir    the slice both sides read (same parquet bytes)
#   out-json  paired per-query JSON artifact (e.g. artifacts/INTERLEAVE_r17.json)
#   rounds    A/B alternations (each side runs `rounds` full Bench passes)
#   query...  the query subset (must exist in BOTH refs' registries)
#
# The side that runs first alternates round by round (prev first in odd
# rounds, cur first in even ones), so a warm-up or a drift inside a round
# falls on both sides alike.
#
# Output JSON: per query the per-round samples for both sides, each
# side's min and median across rounds, the cur/prev ratio of each, and
# the prev side's own spread across rounds ((max - min) / min). A query
# whose prev spread exceeds 10 % is marked `unresolved`: its ratio is
# inside the build's own noise and cannot decide the 10 % rule — re-time
# it warm in one JVM. Plus totals and `prev_sha`, the commit prev-ref
# resolved to.
set -euo pipefail
REF=$1; SF=$2; OUT=$3; ROUNDS=$4; shift 4
QUERIES=("$@")
[ ${#QUERIES[@]} -gt 0 ] || { echo "no queries given" >&2; exit 1; }
REPO=$(cd "$(dirname "$0")/.." && pwd)
OUT_ABS=$(cd "$(dirname "$OUT")" 2>/dev/null && pwd)/$(basename "$OUT") || OUT_ABS=$REPO/$OUT

# The prev tree is the requested commit by construction: its committed
# files, extracted into a fresh directory (removed on exit).
REF_SHA=$(git -C "$REPO" rev-parse --verify "$REF^{commit}")
WT=$(mktemp -d /tmp/graft_interleave_prev.XXXX)
TMP=$(mktemp -d /tmp/graft_interleave_runs.XXXX)
trap 'rm -rf "$WT" "$TMP"' EXIT
git -C "$REPO" archive "$REF_SHA" | tar -x -C "$WT"
echo "[interleave] building prev ($REF = $REF_SHA) in $WT" >&2
(cd "$WT" && sbt -batch compile >/dev/null)
echo "[interleave] building cur in $REPO" >&2
(cd "$REPO" && sbt -batch compile >/dev/null)

run_side() { # $1 = tree dir, $2 = tag, $3 = round
  echo "[interleave] round $3 $2" >&2
  (cd "$1" && SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-4} \
    tools/run.sh graft.Bench "${QUERIES[@]}" >/dev/null)
  cp "$1/bench_queries.json" "$TMP/$2_$3.json"
}
for r in $(seq 1 "$ROUNDS"); do
  if (( r % 2 )); then
    run_side "$WT" prev "$r"; run_side "$REPO" cur "$r"
  else
    run_side "$REPO" cur "$r"; run_side "$WT" prev "$r"
  fi
done

python3 - "$REF" "$REF_SHA" "$SF" "$ROUNDS" "$TMP" "$OUT_ABS" <<'EOF'
import json, statistics, sys
ref, sha, sf, rounds, tmp, out = sys.argv[1:7]
rounds = int(rounds)
def load(tag):
    runs = []
    for r in range(1, rounds + 1):
        with open(f"{tmp}/{tag}_{r}.json") as f:
            runs.append(json.load(f)["queries"])
    return runs
prev, cur = load("prev"), load("cur")
# A query present on only one side (e.g. added after prev-ref) would
# yield an empty sample list and crash min() AFTER all bench passes
# were paid — validate the set against both sides' first round and
# pair only the intersection, reporting the rest.
only_cur = sorted(set(cur[0]) - set(prev[0]))
only_prev = sorted(set(prev[0]) - set(cur[0]))
for n in only_cur:
    print(f"[interleave] SKIP {n}: absent from prev ref's registry", file=sys.stderr)
for n in only_prev:
    print(f"[interleave] SKIP {n}: absent from cur registry", file=sys.stderr)
names = sorted(set(cur[0]) & set(prev[0]))
SPREAD = 0.10  # the rule's own bound: a wider prev spread cannot decide it
def ratio(c, p):
    return round(c / p, 3) if p > 0 else None
qs = {}
for n in names:
    p = [r[n] for r in prev if n in r]
    c = [r[n] for r in cur if n in r]
    pm, cm = min(p), min(c)
    pmed, cmed = statistics.median(p), statistics.median(c)
    spread = round((max(p) - pm) / pm, 3) if pm > 0 else None
    qs[n] = {"prev": p, "cur": c, "prev_min": pm, "cur_min": cm,
             "prev_median": pmed, "cur_median": cmed,
             "ratio_cur_over_prev": ratio(cm, pm),
             "ratio_median_cur_over_prev": ratio(cmed, pmed),
             "prev_spread": spread,
             "unresolved": spread is None or spread > SPREAD}
tp = round(sum(q["prev_min"] for q in qs.values()), 3)
tc = round(sum(q["cur_min"] for q in qs.values()), 3)
doc = {"prev_ref": ref, "prev_sha": sha, "sf": sf, "rounds": rounds, "first_side": "prev in odd rounds, cur in even",
       "skipped_only_cur": only_cur, "skipped_only_prev": only_prev,
       "total_prev_min": tp, "total_cur_min": tc,
       "total_ratio_cur_over_prev": round(tc / tp, 3) if tp else None,
       "unresolved": sorted(n for n, q in qs.items() if q["unresolved"]),
       "queries": qs}
with open(out, "w") as f:
    json.dump(doc, f, indent=1, sort_keys=True)
print(f"[interleave] wrote {out}: total cur/prev = {doc['total_ratio_cur_over_prev']}",
      file=sys.stderr)
worst = sorted(qs.items(), key=lambda kv: -(kv[1]["ratio_median_cur_over_prev"] or 0))[:5]
for n, q in worst:
    print(f"[interleave]   {n}: median {q['prev_median']:.2f} -> {q['cur_median']:.2f} "
          f"({q['ratio_median_cur_over_prev']}x), min {q['ratio_cur_over_prev']}x"
          f"{', unresolved (prev spread ' + str(q['prev_spread']) + ')' if q['unresolved'] else ''}",
          file=sys.stderr)
print(f"[interleave] unresolved: {len(doc['unresolved'])} {doc['unresolved']}", file=sys.stderr)
EOF
