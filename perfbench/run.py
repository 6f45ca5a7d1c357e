#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <pipeline|registry>
        --seed <n> --seconds <n> --trace <0|1>

Builds the engine and the harness from source with sbt on first use (the
build is reused while no source changes), runs the harness in one JVM on
local[nproc], and prints the result object as the last stdout line.
Everything a run writes stays under .bench_build/ in the checkout: the
run's scratch root (deleted when the run ends), build stamps, logs and
the per-run JSON sidecars with per-query and per-route detail.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline", "registry")
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
SBT_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
               "-Dsbt.server.forcestart=false -Xmx2g")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, as paths relative to the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(os.path.relpath(f, ROOT) for f in files if os.path.isfile(f))


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(fp):
    """Compile the engine and the harness; return the runtime classpath."""
    stamp = os.path.join(STATE, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("source") == fp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + SBT_OFFLINE).strip()
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            text, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out; see {log}")
        out.write(text)
    lines = [ln for ln in text.splitlines() if ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed; see {log}")
    with open(stamp, "w") as f:
        json.dump({"source": fp, "classpath": lines[-1]}, f)
    return lines[-1]


def stop(proc):
    """Kill the process group of `proc` and wait until it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    # The engine is built from this checkout's sources: without them
    # there is nothing to measure.
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need}) next to {HERE}")
    os.makedirs(STATE, exist_ok=True)
    fp = fingerprint(source_files())
    classpath = build(fp)

    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{a.workload}-",
                            dir=os.path.join(STATE, "runs"))
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    cmd = (["java"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Xmx{HEAP}", "-XX:+UnlockDiagnosticVMOptions",
              "-XX:GCLockerRetryAllocationCount=64",
              "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
              f"-Dperfbench.commit={commit()}", f"-Dperfbench.source={fp}",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--root", root,
              "--sidecars", os.path.join(STATE, "sidecars"),
              "--fixture", os.path.join(HERE, "fixture", "sf0.01")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "local"))
    log = os.path.join(STATE, f"{a.workload}.log")
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env,
                                    stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                text, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop(proc)
                fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    lines = text.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with {proc.returncode}; see {log}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed no result")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
