#!/usr/bin/env python3
"""Runs the benchmark over several seeds and writes one baseline file.

  python3 perfbench/baseline.py --out perfbench/results/baseline.json [--seeds 1-10]
      [--workloads resolve,lookup,cdc_upsert] [--trace-seed 99]

Each workload runs once per seed with --trace 0, then once with
--trace 1. The file keeps every run's result and stamp, plus for each
end-to-end metric the median, the quartiles and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        ["python3", str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(BENCHMARK["run_seconds"]), "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} seed {seed} trace {trace} failed (exit {p.returncode}):\n{p.stderr[-3000:]}")
    return {"seed": seed, "wall_s": round(time.time() - t0, 1),
            "stamp": json.loads(lines[-2])["stamp"], "result": json.loads(lines[-1])}


def summary(runs: list) -> dict:
    out = {}
    for m in BENCHMARK["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                          "bound": m["bound"], "unit": m["unit"]}
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--out", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(w["name"] for w in BENCHMARK["workloads"]))
    p.add_argument("--trace-seed", type=int, default=99)
    a = p.parse_args()
    result = {"run_seconds": BENCHMARK["run_seconds"], "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            runs.append(run(w, s, 0))
            r = runs[-1]
            print(w, s, f"{r['wall_s']}s", json.dumps(r["result"]), flush=True)
        traced = run(w, a.trace_seed, 1)
        print(w, "trace", f"{traced['wall_s']}s", json.dumps(traced["result"]), flush=True)
        result["workloads"][w] = {"summary": summary(runs), "runs": runs, "trace": traced}
        for name, s in result["workloads"][w]["summary"].items():
            print(f"  {w} {name}: median {s['median']:.4f} {s['unit']}, spread {s['spread']:.3f} "
                  f"(bound {s['bound']})", flush=True)
    Path(a.out).write_text(json.dumps(result, indent=1) + "\n")


if __name__ == "__main__":
    main()
