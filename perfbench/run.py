#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <load|maintain|query> --seed <n>
        --seconds <s> --trace <0|1>

Run from the repository root. Builds the program with its own sbt build
(through perfbench/build.sbt, which depends on it) when the sources changed
since the last build, then runs the workload in one JVM with `local[4]` and
a fixed heap, and prints the JVM's result object as the last stdout line.
Build products, inputs and scratch files stay under `.bench_build/` and the
sbt `target/` directories. Exits non-zero, printing no result, when the
program cannot be built or a run does not complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: program and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program and harness unless the stamp says they are current;
    returns the runtime classpath sbt resolved and the program build's
    --add-opens flags."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("no program sources next to the benchmark; nothing to build")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    out_file = os.path.join(BUILD, "build.json")
    stamp = source_stamp()
    if (os.path.exists(stamp_file) and os.path.exists(out_file)
            and open(stamp_file).read() == stamp):
        with open(out_file) as f:
            out = json.load(f)
        return out["classpath"], out["opens"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath", "print perfbench/javaOptions"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=700)
    lines = proc.stdout.strip().splitlines()
    # `print` lists the JVM flags as "* <flag>" lines after the classpath
    flags = [l[2:].strip() for l in lines if l.startswith("* ")]
    rest = [l for l in lines if not l.startswith("* ")]
    if proc.returncode != 0 or not rest or not flags:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    out = {"classpath": rest[-1].strip(),
           "opens": [b for a, b in zip(flags, flags[1:]) if a == "--add-opens"]}
    with open(out_file, "w") as f:
        json.dump(out, f)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out["classpath"], out["opens"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["load", "maintain", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath, opens = build()
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in opens for x in ("--add-opens", p)]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--benchmark", os.path.join(ROOT, "BENCHMARK.json"),
              "--python", sys.executable, "--tools", HERE])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        fail(f"run failed (exit {proc.returncode})")
    if a.trace:
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    for l in lines[:-1]:
        print(l)
    print(lines[-1])


if __name__ == "__main__":
    main()
