#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the benchmark harness from source (sbt, in perfbench/); later runs reuse
the build until a source file changes. The last line of standard output
is the result: {"correct", "attempted", "failed", "metrics"}. The exit
code is 0 only when every correctness check passed.

Workloads: live_stream, backfill_replay, fact_queries, analytics_queries.
Extra flags (--sf DIR, --corrupt-sink, --record-expectations DUMP OUT) are
passed through; see perfbench/README.md.
"""
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

BENCH = "perfbench"
BUILD_INFO = os.path.join(BENCH, "target", "perfbench-build.json")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join("src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile program + harness with sbt and record the runtime classpath."""
    if os.path.isfile(BUILD_INFO):
        with open(BUILD_INFO) as f:
            info = json.load(f)
        if info.get("stamp") == stamp:
            return info["classpath"]
    log("building program and benchmark harness (sbt compile)")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE,
                             stderr=sys.stderr, text=True,
                             timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(3)
    sys.stderr.write(out.stdout)
    lines = [l for l in out.stdout.splitlines()
             if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        log(f"build failed (sbt exit {out.returncode})")
        sys.exit(3)
    classpath = lines[-1].strip()
    with open(BUILD_INFO, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def git(*args):
    try:
        return subprocess.run(["git", *args], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True,
                              timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def main(argv):
    checkout = all(os.path.exists(p) for p in
                   ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                    os.path.join(BENCH, "build.sbt")))
    if not checkout:
        log("run this from the root of a repository checkout: the program "
            "sources (build.sbt, src/main/scala/graft) are not here")
        return 2
    stamp = source_hash()
    classpath = build(stamp)

    run_dir = os.path.join(".perfbench", "runs", uuid.uuid4().hex[:12])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    commit = git("rev-parse", "HEAD") if os.path.isdir(".git") else ""
    env["PERFBENCH_COMMIT"] = commit or "unknown"
    env["PERFBENCH_DIRTY"] = (("true" if git("status", "--porcelain") else "false")
                              if commit else "unknown")
    env["PERFBENCH_SOURCE_HASH"] = stamp
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", *opens, f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main", "--run-dir", run_dir] + argv)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            env=env, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(5)))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 4
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
