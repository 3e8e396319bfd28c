#!/usr/bin/env python3
"""Run one graft benchmark workload.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds graft and the harness with sbt (the
standalone build in perfbench/); later runs reuse the build while the
sources are unchanged. The run itself is one JVM (perfbench.Main) whose
last stdout line is the result object, printed here as the last line.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
SOURCES = os.path.join(ROOT, "src", "main", "scala")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("nexus_ingest_slice", "llm_curate_search")

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for top in (SOURCES, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    if (os.path.exists(stamp_file) and os.path.exists(cp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    # sbt binds a boot socket under java.io.tmpdir; in a checkout whose
    # path is deep, that path is longer than a unix socket name may be,
    # and sbt then exits unless told to boot without the socket.
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(STATE, "sbt-global"),
           "-Dsbt.offline=true", "-Dsbt.server.forcestart=true",
           "-J-Djava.io.tmpdir=" + os.path.join(STATE, "tmp"),
           "-J-Djna.tmpdir=" + os.path.join(STATE, "tmp"),
           "-J-XX:-UsePerfData", "-J-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.pop("SBT_OPTS", None)
    with open(os.path.join(STATE, "build.log"), "w") as log:
        code, _ = run_bounded(cmd + ["compile", "writeClasspath"], 600,
                              cwd=BENCH, env=env, stdout=log,
                              stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(os.path.join(STATE, "build.log")).read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(SOURCES, "graft")):
        fail("graft sources (src/main/scala/graft) not found; "
             "run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(STATE, exist_ok=True)
    cp = build()

    tag = f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", os.path.join(BENCH, "data"),
            "--trace-out", os.path.join(STATE, "traces", tag + ".jsonl")]
    log_path = os.path.join(STATE, "logs", tag + ".log")
    try:
        with open(log_path, "w") as log:
            code, out = run_bounded(cmd, a.seconds + 160, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = (out or "").rstrip("\n").split("\n")
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"run did not produce a result (exit {code}); log: {log_path}")
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec):
        with open(spec) as f:
            want = json.load(f)["per_layer" if a.trace else "end_to_end"]
        if sorted(result["metrics"]) != sorted(m["name"] for m in want):
            fail("metrics differ from BENCHMARK.json")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
