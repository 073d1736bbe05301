#!/usr/bin/env python3
"""Run one workload of the facade benchmark from the root of a checkout.

    python3 perfbench/run.py --workload ingest|serve --seed N --seconds S --trace 0|1

Builds the benchmark together with the engine sources under src/main/scala
(sbt, once per source change), runs it in a fresh JVM and prints its
metric lines; the last stdout line is the JSON result. Exit code 0 means
every correctness check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench-build.json")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
DEADLINE_S = 175
WORKLOADS = ("ingest", "serve")
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [os.path.join(HERE, "src"), ENGINE]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp = source_stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-8000:])
        die(f"build failed (sbt exit {p.returncode})")
    cp_line = p.stdout.strip().splitlines()[-1].strip()
    classpath = [e for e in cp_line.split(os.pathsep) if e]
    if not classpath or not all(os.path.exists(e) for e in classpath):
        sys.stderr.write(p.stdout[-8000:])
        die("build did not report a usable classpath")
    with open(STAMP, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be >= 1")
    if not os.path.isfile(os.path.join(ENGINE, "graft", "Graft.scala")):
        die(f"engine sources not found under {os.path.relpath(ENGINE)}; run from the root of a checkout")
    classpath = build()

    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
           + ["-cp", os.pathsep.join(classpath), "wovedbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--workdir", WORK, "--results", RESULTS])
    started = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {DEADLINE_S} s and was killed", code=3)
    sys.stdout.write(out)
    sys.stdout.flush()
    lines = out.strip().splitlines()
    if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        die(f"benchmark JVM exited {proc.returncode} without a result "
            f"after {time.time() - started:.0f} s", code=proc.returncode or 4)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
