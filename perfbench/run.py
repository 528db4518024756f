#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its metrics.

    python3 perfbench/run.py --workload kg_interactive --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run builds the program and the
harness (perfbench/build.sh) into .bench_build/; later runs rebuild only
when a source file changed. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones and the span file lands in
.bench_build/trace/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
DATA = BENCH / "data" / "sf0.01"
PINS = BENCH / "pins.tsv"
WORKLOADS = ("kg_pipeline", "kg_interactive")
# A run must end within 180 s; the JVM gets what is left after the build
# check and start-up.
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, or the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            fail("set SPARK_HOME: build.sbt names no Spark jar directory")
        jars = Path(m.group(1))
    if not jars.is_dir():
        fail(f"no Spark jars at {jars}")
    return jars


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not (program / "graft").is_dir():
        fail(f"no program sources under {program}")
    return sorted(p for d in (program, BENCH / "src") for p in d.rglob("*.scala"))


def build(jars):
    """Compiles when the sources differ from the ones the classes came from."""
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    stamp_file = BUILD / "classes.stamp"
    if CLASSES.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    BUILD.mkdir(exist_ok=True)
    print("run.py: building", file=sys.stderr)
    r = subprocess.run(["bash", str(BENCH / "build.sh"), str(CLASSES), str(jars)], cwd=ROOT,
                       stdout=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    stamp_file.write_text(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="rewrite perfbench/pins.tsv from the current program")
    ap.add_argument("--check-verify", metavar="DIR",
                    help="compare the pins with graft.Verify output in DIR")
    a = ap.parse_args()
    if not (a.workload or a.pin or a.check_verify):
        ap.error("--workload, --pin or --check-verify is required")
    if not DATA.is_dir():
        fail(f"no fixture at {DATA}")
    sources()
    jars = spark_jars()
    build(jars)

    tmp = BUILD / "tmp" / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    if a.pin:
        mode = ["--mode", "pin"]
    elif a.check_verify:
        mode = ["--mode", "check-verify", "--verify-dir", str(Path(a.check_verify).resolve())]
    else:
        mode = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    cmd = ["java", *opens, "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{CLASSES}{os.pathsep}{jars}/*", "graftbench.Run", *mode,
           "--data", str(DATA), "--pins", str(PINS), "--out", str(BUILD / "trace")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=None if (a.pin or a.check_verify) else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"timed out after {JVM_TIMEOUT_S} s")
    shutil.rmtree(tmp, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if a.pin or a.check_verify:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    try:
        result = json.loads(lines[-1])
    except (json.JSONDecodeError, IndexError):
        print("\n".join(lines), file=sys.stderr)
        fail(f"the harness printed no result (exit {proc.returncode})")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    sys.exit(proc.returncode if proc.returncode else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
