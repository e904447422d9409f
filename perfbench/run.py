#!/usr/bin/env python3
"""Benchmark driver for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 5 --trace 0

Builds the engine and the harness from source with sbt (once per source
state; the classpath is cached under .bench_build/), then runs one workload
in a fresh JVM. The harness prints a detail line (seed, host load, every
end-to-end metric by its catalogue name) and the last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}. --trace 1 runs one
traced client and reports the per-layer metrics instead; its spans are kept
in .bench_build/traces/<workload>-<seed>.jsonl.

`--workload all` runs every workload in turn and prints one result line per
workload. `--smoke` shrinks every input and does one set-up round, for
checking the harness itself.
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
BUILD_DIR = os.path.join(ROOT, ".bench_build")
TRACE_DIR = os.path.join(BUILD_DIR, "traces")
WORKLOADS = ["ingest_live", "dashboard_read", "dedup_admit"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
MAIN_CLASS = "graftbench.Main"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list the engine's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = ["build.sbt", os.path.join("perfbench", "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.relpath(os.path.join(proj, f), ROOT)
                      for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def classpath():
    """The harness classpath, building first when the sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no engine sources beside perfbench/ (expected build.sbt and "
            "src/main/scala/graft at the checkout root)")
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "classpath-%s.txt" % source_hash())
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip(), 0.0
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die("build failed: %s" % e)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed (sbt exit %d)" % p.returncode)
    lines = [l for l in p.stdout.splitlines()
             if l and not l.startswith("[") and os.pathsep in l]
    if not lines:
        die("build printed no classpath")
    cp = lines[-1].strip()
    if not all(os.path.exists(e) for e in cp.split(os.pathsep)):
        die("build printed a classpath with missing entries")
    tmp = stamp + ".tmp"
    with open(tmp, "w") as f:
        f.write(cp)
    os.replace(tmp, stamp)
    return cp, time.time() - t0


def run_workload(cp, args, workload, deadline):
    work = os.path.join(BUILD_DIR, "work", "%s-%d-%d" % (workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, MAIN_CLASS, "--workload", workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    if args.smoke:
        cmd.append("--smoke")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("%s did not finish in time" % workload, 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            os.makedirs(TRACE_DIR, exist_ok=True)
            shutil.move(spans, os.path.join(TRACE_DIR, "%s-%d.jsonl" % (workload, args.seed)))
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        die("%s exited with %d" % (workload, proc.returncode), 3)
    detail = result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_DETAIL "):
            detail = json.loads(line[len("PERFBENCH_DETAIL "):])
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if detail is None or result is None:
        die("%s printed no result" % workload, 3)
    return detail, result


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(result, trace):
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("result has keys %s" % sorted(result), 4)
    want = expected_metrics(trace)
    if want is not None and set(result["metrics"]) != want:
        die("result metrics differ from BENCHMARK.json: %s"
            % sorted(set(result["metrics"]) ^ want), 4)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    cp, build_s = classpath()
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    for wl in workloads:
        deadline = time.time() + RUN_LIMIT_S
        detail, result = run_workload(cp, args, wl, deadline)
        check_result(result, args.trace)
        detail["build_s"] = build_s
        print(json.dumps(detail, separators=(",", ":")))
        print(json.dumps(result, separators=(",", ":")))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
