#!/usr/bin/env python3
"""Capture-pipeline benchmark: one workload per call, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload poll_latest --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source with sbt on first use (or
when a source file changed), then runs the workload in a fresh JVM on
local[nproc/2]. With --trace 0 the result carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 it runs the workload untraced and then
traced, each measuring half of --seconds, and carries the per-layer
metrics plus the tracing overhead. The
trace itself (spans, self times, streaming progress) is written under
.bench_build/trace/. Everything the benchmark writes stays under
.bench_build/ and the sbt target directories of the checkout.
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
STATE = os.path.join(ROOT, ".bench_build")
RUN_BUDGET_S = 170  # a run must end within 180 s once the build exists
BUILD_BUDGET_S = 800
JAVA_OPTS = [
    opt
    for pkg in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
] + ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash():
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        walk = [(os.path.dirname(top), [], [os.path.basename(top)])] if os.path.isfile(top) else os.walk(top)
        for d, subdirs, files in walk:
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for name in sorted(files):
                if name.endswith((".scala", ".java", ".sbt", ".properties")):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building when the sources changed."""
    stamp = os.path.join(STATE, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("hash") == digest and all(os.path.exists(p) for p in got["classpath"].split(os.pathsep)):
            return got["classpath"]
    os.makedirs(STATE, exist_ok=True)
    print("[perfbench] building engine and benchmark with sbt", file=sys.stderr)
    tmp = os.path.join(STATE, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # resolve from the local dependency caches unless the caller configured sbt
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, stdin=subprocess.DEVNULL,
            text=True, timeout=BUILD_BUDGET_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout)
        fail(f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    if "perfbench" not in cp or not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        sys.stderr.write(out.stdout)
        fail("build did not report a usable classpath")
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, seconds, trace, deadline):
    """Runs one workload in a fresh JVM; returns its parsed result line."""
    tag = f"{args.workload}-seed{args.seed}-trace{trace}"
    work = os.path.join(STATE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
        "-cp", cp, "perfbench.Bench", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", work]
    if trace:
        os.makedirs(os.path.join(STATE, "trace"), exist_ok=True)
        cmd += ["--trace-out", os.path.join(STATE, "trace", f"{args.workload}-seed{args.seed}.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    java_home = env.get("JAVA_HOME")
    if java_home and os.path.exists(os.path.join(java_home, "bin", "java")):
        cmd[0] = os.path.join(java_home, "bin", "java")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{tag}: no result before the time budget ran out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"{tag}: JVM exited with code {proc.returncode}")
    try:
        return json.loads(lines[-1])
    except ValueError:
        fail(f"{tag}: last line is not a result: {lines[-1][:200]}")


def select(result, specs):
    metrics = {}
    for s in specs:
        m = result["metrics"].get(s["name"])
        if m is None:
            fail(f"metric {s['name']} missing from the run")
        if m["unit"] != s["unit"]:
            fail(f"metric {s['name']} has unit {m['unit']}, BENCHMARK.json says {s['unit']}")
        metrics[s["name"]] = m
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be positive")

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"not a checkout of the engine: {os.path.relpath(need, ROOT)} is missing")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")

    cp = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    if not args.trace:
        untraced = run_jvm(cp, args, args.seconds, 0, deadline)
        out = {"correct": untraced["correct"], "attempted": untraced["attempted"],
               "failed": untraced["failed"], "metrics": select(untraced, spec["end_to_end"])}
    else:
        # two set-ups must fit the run's time budget: each JVM measures half
        half = max(1, args.seconds // 2)
        untraced = run_jvm(cp, args, half, 0, deadline)
        traced = run_jvm(cp, args, half, 1, deadline)
        base = untraced["metrics"]["apply_p50_ms"]["value"]
        traced["metrics"]["trace.overhead_apply_p50_ms"] = {
            "value": traced["metrics"]["apply_p50_ms"]["value"] - base, "unit": "ms"}
        out = {"correct": untraced["correct"] and traced["correct"],
               "attempted": untraced["attempted"] + traced["attempted"],
               "failed": untraced["failed"] + traced["failed"],
               "metrics": select(traced, spec["per_layer"])}
    if not out["correct"]:
        print(f"[perfbench] {args.workload}: {out['failed']} of {out['attempted']} operations failed "
              "or produced a wrong result", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
