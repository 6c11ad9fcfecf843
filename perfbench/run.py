#!/usr/bin/env python3
"""Run one perfbench workload and print its report.

    python3 perfbench/run.py --workload scd2_nightly --seed 1 --seconds 20 --trace 0

Builds the benchmark together with the engine sources it measures (sbt,
offline) when any source changed since the last build, then runs the
workload in one JVM. Every line of the report goes to standard output; the
last line is the JSON result. Build and Spark logs go to standard error.
Exits non-zero, without a result, when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
WORKLOADS = ("scd2_nightly", "corpus_curate", "ann_serve")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when a session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_files():
    """Every file the build reads: the benchmark's and the engine's."""
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Classpath of the compiled benchmark, rebuilding only when sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: engine sources not found next to the benchmark; nothing to build")
    stamp = os.path.join(WORK, "build.json")
    want = digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("digest") == want and all(os.path.exists(p) for p in got["classpath"].split(os.pathsep)):
            return got["classpath"]
    os.makedirs(TMP, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={TMP}".strip()
    res = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(res.stdout)
    lines = [l.strip() for l in res.stdout.splitlines()]
    cps = [l for l in lines if l.startswith(os.sep) and "classes" in l and not l.startswith("[")]
    if res.returncode != 0 or not cps:
        sys.exit(f"perfbench: build failed (sbt exit {res.returncode})")
    with open(stamp, "w") as fh:
        json.dump({"digest": want, "classpath": cps[-1]}, fh)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds < 1:
        sys.exit("perfbench: --seconds must be at least 1")

    classpath = build()
    work = os.path.join(WORK, args.workload)
    os.makedirs(TMP, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={TMP}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: workload run failed (exit {proc.returncode})")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
