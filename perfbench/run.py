#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload <llm_etl|curate|all> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and records the classpath; later runs reuse the
build as long as no source or build file changed. Each workload runs in a
JVM of its own. The last line of standard output is the JSON result; the
exit code is 0 only if every run passed its output checks.
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
WORKLOADS = ["llm_etl", "curate"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change requires a rebuild, relative to ROOT."""
    files = []
    for top in ("src/main", "project", "perfbench/src/main", "perfbench/project"):
        base = os.path.join(ROOT, top)
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    files += ["build.sbt", "perfbench/build.sbt"]
    return sorted(set(f for f in files if os.path.isfile(os.path.join(ROOT, f))))


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness unless an up-to-date build exists; returns
    the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    want = stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as cp:
                    return cp.read().strip()
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.isfile(cp_file):
        raise RuntimeError(f"build failed (sbt exit {proc.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    with open(cp_file) as cp:
        return cp.read().strip()


def run_one(classpath, workload, seed, seconds, trace):
    """Run one workload in its own JVM; returns (exit code, parsed JSON or None)."""
    work = os.path.join(HERE, "work", f"{workload}-{os.getpid()}")
    spans = os.path.join(HERE, "out", f"spans-{workload}-seed{seed}.jsonl")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # CompileThresholdScaling: the JIT compiles after a tenth of the usual
    # invocations, so the pipelines come close to steady speed within a few
    # warm-up runs; Spark keeps generating and loading new code for twenty
    # runs and more, and without it the measured runs sit on a steep slope
    cmd += ["-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.1",
            "-Dspark.ui.enabled=false", "-Dsun.net.httpserver.nodelay=true",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--spans", spans]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                              timeout=RUN_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        log(f"{workload}: no result within {RUN_TIMEOUT_S}s")
        return 3, None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for l in lines[:-1]:
        print(l)
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources (src/main/scala/graft) not found next to perfbench/; run from a full checkout")
        return 2
    try:
        classpath = build()
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(str(e))
        return 2

    names = WORKLOADS if a.workload == "all" else [a.workload]
    results, worst = {}, 0
    for w in names:
        code, result = run_one(classpath, w, a.seed, a.seconds, a.trace == 1)
        if result is None:
            log(f"{w}: no result (exit {code})")
            return code or 1
        results[w] = result
        worst = max(worst, code)
    if a.workload == "all":
        for w in names:
            print(f"{w}: " + ", ".join(f"{k}={v['value']:.6g} {v['unit']}"
                                       for k, v in results[w]["metrics"].items()))
        print(json.dumps(results))
    else:
        print(json.dumps(results[names[0]]))
    return worst


if __name__ == "__main__":
    sys.exit(main())
