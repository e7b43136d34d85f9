#!/usr/bin/env python3
"""Benchmark of graft: one closed-loop client on local[nproc].

  python3 perfbench/run.py --workload resolve|lookup|cdc_upsert --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --self-test          # the benchmark's own tests
  python3 perfbench/run.py --record-expected    # rewrite perfbench/expected.tsv

Run from the root of a graft source tree. The first run compiles graft
(see build.py). The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it is the
run stamp. The full run record goes to <build dir>/records/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import build

RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    if not (build.ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def java(classes: Path, work: Path, main: str, args: list) -> int:
    """Runs a JVM with Spark's jars, keeping every file it writes in `work`."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dlog4j2.level=warn",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
        "-cp", f"{classes}{os.pathsep}{build.spark_jars()}", main,
    ] + args
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] {main} exceeded {RUN_TIMEOUT_S}s and was stopped", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main() -> int:
    # a terminated run still stops its JVM (see the finally in java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=["resolve", "lookup", "cdc_upsert"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    p.add_argument("--record-expected", action="store_true")
    a = p.parse_args()
    if not (a.self_test or a.record_expected or a.workload):
        p.error("--workload is required")

    out = build.build_dir()
    classes, sha = build.build(out)
    work = out / "runs" / f"{a.workload or 'tool'}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = build.HERE / "data"
    expected = build.HERE / "expected.tsv"
    try:
        if a.self_test:
            return java(classes, work, "perfbench.SelfTest", [str(build.ROOT / "BENCHMARK.json")])
        if a.record_expected:
            return java(classes, work, "perfbench.Main", [
                "record-expected", "--data", str(data), "--work", str(work), "--expected", str(expected)])
        result, record = work / "result.json", work / "record.json"
        flags = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "data": data, "work": work, "expected": expected, "result": result, "record": record,
            "source": sha, "commit": git_commit(),
        }
        args = ["bench"] + [x for k, v in flags.items() if v is not None for x in (f"--{k}", str(v))]
        code = java(classes, work, "perfbench.Main", args)
        if code != 0 or not result.exists():
            print(f"[perfbench] run failed (exit {code})", file=sys.stderr)
            return code or 1
        records = out / "records"
        records.mkdir(exist_ok=True)
        shutil.copy(record, records / f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        print(json.dumps({"stamp": json.loads(record.read_text())["stamp"]}))
        print(result.read_text().strip())
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
