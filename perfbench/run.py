#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload dataset_build --seed 1 --seconds 20 --trace 0

Builds the program's sources together with the benchmark (sbt, once per
source change, into .bench_build/), then runs one JVM for the workload and
relays its result: the last line of standard output is one JSON object
with `correct`, `attempted`, `failed` and `metrics`. Run from the root of
the checkout; everything it writes stays under .bench_build/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dataset_build", "search_served", "feature_upload")
RUN_TIMEOUT_S = 170
# A fixed 3 GB heap and the C1 JIT only: see README.md, "Session and JVM".
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=240m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false"] + [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of every input of the build: the program's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d != "target")
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(out):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "sbt-target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(out, "sbt-global"),
           "compile", "writeClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cf:
        return cf.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) are missing")
    out = build_dir()
    cp = ensure_built(out)
    work = os.path.join(out, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                 "-cp", cp, "perfbench.Main",
                                 "--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--work", work]
    if a.trace:
        cmd += ["--trace-out", os.path.join(out, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        raise SystemExit("perfbench: run failed (exit %d)" % proc.returncode)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
