#!/usr/bin/env python3
"""Builds graft and the benchmark's own Scala code with the Scala compiler that
ships in the Spark distribution, so the build needs neither sbt nor a
network. Classes go to <build dir>/classes-<digest>, where the digest
covers every source file; an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py [build dir]   (default: .bench_build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SOURCES = ROOT / "src" / "main" / "scala"
BENCH_SOURCES = HERE / "src"
BUILD_TIMEOUT_S = 600  # keeps a first run, build plus measurement, under 15 minutes


def spark_jars() -> str:
    """Spark's jars: $SPARK_HOME/jars, else the jar directory graft's own
    build.sbt names as its `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return str(Path(home) / "jars" / "*")
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise SystemExit("Spark not found: set SPARK_HOME")
    return str(Path(m.group(1)) / "*")


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources() -> list:
    if not (PROGRAM_SOURCES / "graft").is_dir():
        raise SystemExit(f"graft sources not found under {PROGRAM_SOURCES}")
    return sorted(p for d in (PROGRAM_SOURCES, BENCH_SOURCES) for p in d.rglob("*.scala"))


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build(out: Path) -> tuple:
    """Returns (classes dir, source digest), compiling when needed."""
    files = sources()
    sha = digest(files)
    classes = out / f"classes-{sha[:16]}"
    if (classes / ".complete").exists():
        return classes, sha
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / f"{classes.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    args = out / f"sources{os.getpid()}.txt"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    try:
        subprocess.run(
            ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
             "-nowarn", "-classpath", spark_jars(), "-d", str(tmp), f"@{args}"],
            check=True, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
        (tmp / ".complete").touch()
        for old in out.glob("classes-*"):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        tmp.rename(classes)
    finally:
        args.unlink(missing_ok=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return classes, sha


if __name__ == "__main__":
    out = ROOT / sys.argv[1] if len(sys.argv) > 1 else build_dir()
    print(build(out)[0])
