#!/usr/bin/env python3
"""Benchmark entry point for the graft CDC engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload replay-dense --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark's Scala main from source on first use (sbt,
offline; outputs under .bench_build/), then runs the named workload in one
JVM and prints, as the last line of standard output, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Without --workload every workload runs in turn and each prints its line.
Exits non-zero when the build fails, a run fails or times out, or any
correctness check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

WORKLOADS = ["replay-dense", "tail-trickle", "mor-read-mix"]
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root):
    """Compile the engine and the benchmark once per source state; returns the classpath."""
    out = os.path.join(root, BUILD)
    os.makedirs(out, exist_ok=True)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=os.path.join(root, "perfbench"), env=env, stdout=lf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in open(log) if l.strip()]
    cp = next((l for l in reversed(lines) if os.path.join(BUILD, "target") in l
               and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"build failed (log: {log})")
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    return cp


def run_one(root, cp, workload, seed, seconds, trace):
    work = os.path.join(root, BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(root, BUILD, f"result-{workload}.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = ["java", "-Xmx2g", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--result", result]
    log = os.path.join(root, BUILD, f"{workload}.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=lf,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        timer = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in proc.stdout:
                print(line, end="", flush=True)
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode == -signal.SIGKILL:
        print(f"perfbench: {workload} killed after {RUN_TIMEOUT_S} s", file=sys.stderr)
        return None
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(root, BUILD, f"spans-{workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(result):
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        print(f"perfbench: {workload} exited {proc.returncode} without a result (log: {log})",
              file=sys.stderr)
        return None
    return json.load(open(result))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, help="run one workload (default: all)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp = build(root)
    ok = True
    for w in ([a.workload] if a.workload else WORKLOADS):
        r = run_one(root, cp, w, a.seed, a.seconds, a.trace)
        if r is None:
            ok = False
            continue
        ok = ok and r["correct"]
        print(json.dumps(r), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
