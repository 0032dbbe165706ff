#!/usr/bin/env python3
"""Benchmark of the graft dedup engine.

Run from the repository root:

    python3 perfbench/run.py --workload planted --seed 1 --seconds 1 --trace 0

Builds the engine and the benchmark from source with sbt (once per source
tree; the build lands in .bench_build/perfbench), runs one workload in a
fresh JVM and prints the result as one JSON object on the last line of
stdout. The metric names must match BENCHMARK.json; see perfbench/README.md
for what each workload and metric means.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars directory the engine's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no existing Spark jars directory (unmanagedBase)")
    return m.group(1)


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns (returncode, stdout).
    The group is killed on timeout (returncode None) and when this process
    is terminated, so no child outlives the benchmark."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)

    def kill(signum=None, _frame=None):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if signum is not None:
            sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        kill()
        return None, None


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties"))]
    return files


def build():
    """Compiles with sbt unless the sources match the last build."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {engine}: run from the repository root")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and os.path.isdir(classes):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                return classes
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc, _ = run_child(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                          BUILD_TIMEOUT_S, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                          env=dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars()))
    if rc is None:
        fail("build timed out")
    if rc != 0 or not os.path.isdir(classes):
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


def expected_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["planted", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    classes = build()
    names = expected_names(args.trace)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}",
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--expected", os.path.join(HERE, "expected.json")])
    try:
        rc, out = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")

    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        fail(f"no result line (exit code {rc})")
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if result["correct"] and got != names:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(names))}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
