#!/usr/bin/env python3
"""Run one seeded graft benchmark workload and print its JSON result last.

    python3 perfbench/run.py --workload forecast_tune --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline, from the local caches) and records
the classpath under perfbench/.work; later runs reuse that build while no
source or build file has changed. Each run then starts one JVM that sets up
the workload, measures it for --seconds and prints one JSON object as the
last line of stdout. The script exits non-zero, printing no result, when the
build or the run fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("forecast_panel", "forecast_tune", "curate_corpus")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the same list the root
# build passes to forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the program's build and sources, then the
    benchmark's."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in base.glob("*") if p.suffix in (".sbt", ".scala", ".properties"))
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "stamp.txt"
    current = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == current:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = out.stdout.splitlines()
    cp = next((l for l in reversed(lines) if not l.startswith("[") and os.pathsep in l), None)
    if out.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {out.returncode})")
    WORK.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(current)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--break", dest="brk", default="",
                    help="negative control: remove one planted structure from the input")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no graft sources beside the benchmark in {ROOT}")
    cp = build()

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed-size heap: a growing one adds GC-sizing drift to the first iterations
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(WORK)]
    if a.brk:
        cmd += ["--break", a.brk]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"run failed (exit {proc.returncode})")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(f"run printed no result: {lines[-1][:200]}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(result)}")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
